package graft.api

import graft.agg._
import graft.expr._
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.graftshim.{toColumn, toExpr, toExprTree}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._

/** Column DSL mirroring org.apache.spark.sql.functions for the graft sketch
  * library, plus SQL registration. Each stats finisher is one codegen'd
  * node ([[StatsFinisher]], shared with SQL) that reads the summary_stats
  * struct once, checked, and computes its statistic. */
object functions {
  private def agg(e: Expression): Column =
    toColumn(e.asInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction]
      .toAggregateExpression())

  // ---- SummaryStats (X1–X14) ----
  def summary_stats(x: Column): Column = agg(new SummaryStatsAgg(toExpr(x)))
  def summary_stats(x: Column, count: Column): Column =
    agg(SummaryStatsAgg(toExpr(x), toExpr(count)))
  def stats_merge_agg(statsStruct: Column): Column =
    agg(StatsMergeAgg(toExpr(statsStruct)))

  /** Finishers over the summary_stats struct, each reading it checked. */
  def stats_count(s: Column): Column = toColumn(StatsFinisher(toExpr(s), "count"))
  def stats_sum(s: Column): Column = toColumn(StatsFinisher(toExpr(s), "sum"))
  def stats_min(s: Column): Column = toColumn(StatsFinisher(toExpr(s), "min"))
  def stats_max(s: Column): Column = toColumn(StatsFinisher(toExpr(s), "max"))
  def stats_mean(s: Column): Column = toColumn(StatsFinisher(toExpr(s), "mean"))
  def stats_var(s: Column, ddof: Int = 0): Column = toColumn(StatsFinisher(toExpr(s), "var", ddof))
  def stats_std(s: Column, ddof: Int = 0): Column = toColumn(StatsFinisher(toExpr(s), "std", ddof))
  def stats_skew(s: Column, bias: Boolean = true): Column =
    toColumn(StatsFinisher(toExpr(s), "skew", bias = bias))
  def stats_kurt(s: Column, fisher: Boolean = true, bias: Boolean = true): Column =
    toColumn(StatsFinisher(toExpr(s), "kurt", bias = bias, fisher = fisher))

  // ---- TDigest (T1–T13) ----
  def tdigest(x: Column): Column = agg(new TDigestAgg(toExpr(x)))
  def tdigest(x: Column, w: Column): Column = agg(new TDigestAgg(toExpr(x), toExpr(w)))
  def tdigest(x: Column, w: Column, compression: Double): Column =
    agg(TDigestAgg(toExpr(x), toExpr(w), Literal(compression)))
  def tdigest_merge_agg(sketch: Column): Column = agg(TDigestMergeAgg(toExpr(sketch)))

  def tdigest_quantile(sketch: Column, q: Double): Column =
    toColumn(TDigestQuantile(toExpr(sketch), Literal(q)))
  def tdigest_quantile(sketch: Column, q: Column): Column =
    toColumn(TDigestQuantile(toExpr(sketch), toExpr(q)))
  def tdigest_quantiles(sketch: Column, qs: Seq[Double]): Column =
    toColumn(TDigestQuantiles(toExpr(sketch), toExpr(array(qs.map(lit): _*))))
  def tdigest_cdf(sketch: Column, x: Column): Column =
    toColumn(TDigestCdf(toExpr(sketch), toExpr(x)))
  def tdigest_cdfs(sketch: Column, xs: Column): Column =
    toColumn(TDigestCdfs(toExpr(sketch), toExpr(xs)))
  def tdigest_histogram(sketch: Column, bins: Int): Column =
    toColumn(TDigestHistogram(toExpr(sketch), Literal(bins)))
  def tdigest_histogram_at(sketch: Column, edges: Column): Column =
    toColumn(TDigestHistogramAt(toExpr(sketch), toExpr(edges)))
  def tdigest_scale(sketch: Column, factor: Double): Column =
    toColumn(TDigestScale(toExpr(sketch), Literal(factor)))
  def tdigest_centroids(sketch: Column): Column =
    toColumn(TDigestCentroids(toExpr(sketch)))
  def tdigest_size(sketch: Column): Column = toColumn(TDigestStat(toExpr(sketch), "size"))
  def tdigest_min(sketch: Column): Column = toColumn(TDigestStat(toExpr(sketch), "min"))
  def tdigest_max(sketch: Column): Column = toColumn(TDigestStat(toExpr(sketch), "max"))

  // ---- SpaceSaving (S1–S10) ----
  def ss_topk_agg(item: Column): Column = agg(new SpaceSavingAgg(toExpr(item)))
  def ss_topk_agg(item: Column, count: Column): Column =
    agg(new SpaceSavingAgg(toExpr(item), toExpr(count)))
  def ss_topk_agg(item: Column, count: Column, capacity: Int): Column =
    agg(SpaceSavingAgg(toExpr(item), toExpr(count), Literal(capacity)))
  def ss_merge_agg(sketch: Column): Column = agg(SpaceSavingMergeAgg(toExpr(sketch)))

  def ss_topk_long(sketch: Column, k: Int): Column =
    toColumn(SSTopK(toExpr(sketch), Literal(k), LongType))
  def ss_topk_double(sketch: Column, k: Int): Column =
    toColumn(SSTopK(toExpr(sketch), Literal(k), DoubleType))
  def ss_topk_string(sketch: Column, k: Int): Column =
    toColumn(SSTopK(toExpr(sketch), Literal(k), StringType))
  def ss_topk_binary(sketch: Column, k: Int): Column =
    toColumn(SSTopK(toExpr(sketch), Literal(k),
      org.apache.spark.sql.types.BinaryType))
  def ss_size(sketch: Column): Column = toColumn(SSSize(toExpr(sketch)))
  def ss_capacity(sketch: Column): Column = toColumn(SSCapacity(toExpr(sketch)))
  /** All active counters (S6) = topk with k = capacity upper bound. */
  def ss_counters_long(sketch: Column): Column = ss_topk_long(sketch, Int.MaxValue)
  def ss_counters_double(sketch: Column): Column = ss_topk_double(sketch, Int.MaxValue)
  def ss_counters_string(sketch: Column): Column = ss_topk_string(sketch, Int.MaxValue)
  def ss_counters_binary(sketch: Column): Column = ss_topk_binary(sketch, Int.MaxValue)

  // ---- KMV distinct-value sketch ----
  def kmv_agg(value: Column): Column = agg(new KmvAgg(toExpr(value)))
  def kmv_agg(value: Column, k: Int): Column =
    agg(KmvAgg(toExpr(value), Literal(k)))
  def kmv_merge_agg(sketch: Column): Column = agg(KmvMergeAgg(toExpr(sketch)))
  def kmv_distinct(sketch: Column): Column = toColumn(KmvDistinct(toExpr(sketch)))
  def kmv_size(sketch: Column): Column = toColumn(KmvSize(toExpr(sketch)))
  // ---- Count-Min frequency sketch (beyond-reference) ----
  def cms_agg(item: Column): Column = agg(new CountMinAgg(toExpr(item)))
  def cms_agg(item: Column, depth: Int, width: Int): Column =
    agg(new CountMinAgg(toExpr(item), Literal(depth), Literal(width)))
  def cms_merge_agg(sketch: Column): Column = agg(CountMinMergeAgg(toExpr(sketch)))
  def cms_count(sketch: Column, item: Column): Column =
    toColumn(CmsCount(toExpr(sketch), toExpr(item)))
  def cms_total(sketch: Column): Column = toColumn(CmsTotal(toExpr(sketch)))
  def cms_dot(a: Column, b: Column): Column =
    toColumn(CmsDot(toExpr(a), toExpr(b)))

  def hll_agg(value: Column): Column = agg(new HllAgg(toExpr(value)))
  def hll_agg(value: Column, p: Int): Column =
    agg(HllAgg(toExpr(value), Literal(p)))
  def hll_merge_agg(sketch: Column): Column = agg(HllMergeAgg(toExpr(sketch)))
  def hll_distinct(sketch: Column): Column =
    toColumn(HllDistinct(toExpr(sketch)))
  def hll_nonzero(sketch: Column): Column =
    toColumn(HllNonzero(toExpr(sketch)))
  def hll_register_xor(sketch: Column): Column =
    toColumn(HllRegisterXor(toExpr(sketch)))
  def hll_union(a: Column, b: Column): Column =
    toColumn(HllUnion(toExpr(a), toExpr(b)))
  /** |A ∩ B| by inclusion–exclusion over three HLL estimates; clamp at 0
    * (the estimator difference can dip negative for near-disjoint sets). */
  def hll_intersect_est(a: Column, b: Column): Column =
    greatest(lit(0.0),
      hll_distinct(a) + hll_distinct(b) - hll_distinct(hll_union(a, b)))
  def kmv_jaccard(a: Column, b: Column): Column =
    toColumn(KmvJaccard(toExpr(a), toExpr(b)))
  def kmv_set_ops(a: Column, b: Column): Column =
    toColumn(KmvSetOpsExpr(toExpr(a), toExpr(b)))

  // ---- Text analysis (training-data pipeline ops) ----
  def token_count(text: Column): Column = toColumn(TokenCount(toExpr(text)))

  /** GPT-2-style pre-tokenizer pattern, ASCII-simplified so Java regex
    * (Spark) and RE2 (DuckDB oracle) agree: contractions, letter runs,
    * digit runs, punctuation runs, whitespace runs. */
  val BpeTokenPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+|\\s+"

  /** BPE-ish token count: number of pre-tokenizer matches — the standard
    * proxy for LLM token budgets. Backed by Spark's codegen'd regexp_count
    * (no UDF). */
  def token_count_bpe(text: Column): Column =
    regexp_count(text, lit(BpeTokenPattern))

  /** splitmix64 finalizer of a 64-bit key — the deterministic-sampling
    * primitive (see [[graft.ops.Sampling]]). */
  def hash64(key: Column): Column = toColumn(Hash64(toExpr(key)))

  /** Bit-reproducible distributed sum: the exact total of the group rounded
    * once to the nearest double — identical bits under any partitioning or
    * merge order (see [[graft.core.ExactSum]]). The reproducibility
    * primitive behind [[graft.ops.Similarity.kmeansFit]]. */
  def exact_sum(x: Column): Column = agg(ExactSumAgg(toExpr(x)))
  def vec_exact_sum(v: Column): Column = agg(VecExactSumAgg(toExpr(v)))
  def gram_agg(vec: Column): Column = agg(GramAgg(toExpr(vec)))
  /** `exact = false` trades bit-exact superaccumulator cells for plain
    * doubles — ~16× smaller aggregation buffers, for encoder widths
    * (d ≳ 128). See [[graft.agg.GramAgg]]. */
  def gram_agg(vec: Column, exact: Boolean): Column =
    agg(GramAgg(toExpr(vec), exact))

  def lang_id(text: Column): Column = toColumn(LangId(toExpr(text)))
  def text_stats(text: Column): Column = toColumn(TextStatsExpr(toExpr(text)))
  def char_entropy(text: Column): Column =
    toColumn(CharEntropyExpr(toExpr(text)))
  def rep_stats(text: Column, ngramN: Int): Column =
    toColumn(RepStatsExpr(toExpr(text), Literal(ngramN)))
  def unicode_normalize(text: Column, mode: String): Column =
    toColumn(UnicodeNormalize(toExpr(text), Literal(mode)))
  /** The composite corpus normalizer: nfc → casefold → strip_accents →
    * squash_ws. Run BEFORE hashing/shingling/dedup. */
  def normalize_text(text: Column): Column = unicode_normalize(text, "clean")
  def deflate_ratio(text: Column): Column =
    toColumn(DeflateRatio(toExpr(text)))
  def script_stats(text: Column): Column =
    toColumn(ScriptStatsExpr(toExpr(text)))
  def pii_stats(text: Column): Column = toColumn(PiiStatsExpr(toExpr(text)))
  def redact_pii(text: Column): Column = toColumn(RedactPii(toExpr(text)))
  def pseudonymize_pii(text: Column): Column =
    toColumn(PseudonymizePii(toExpr(text)))
  def doc_fingerprint(text: Column, window: Int): Column =
    toColumn(DocFingerprint(toExpr(text), Literal(window)))
  def minhash_signature(text: Column, shingleN: Int, numHashes: Int, seed: Long): Column =
    toColumn(MinHashSignature(toExpr(text), Literal(shingleN), Literal(numHashes), Literal(seed)))
  def simhash64(text: Column, shingleN: Int): Column =
    toColumn(SimHash64(toExpr(text), Literal(shingleN)))
  def ngram_jaccard(a: Column, b: Column, shingleN: Int): Column =
    toColumn(NgramJaccard(toExpr(a), toExpr(b), Literal(shingleN)))
  def shingle_hashes(text: Column, window: Int): Column =
    toColumn(ShingleHashes(toExpr(text), Literal(window)))
  def shingle_hashes_pos(text: Column, window: Int): Column =
    toColumn(ShingleHashesPos(toExpr(text), Literal(window)))
  def cdc_chunk_hashes(text: Column, bits: Int): Column =
    toColumn(CdcChunkHashes(toExpr(text), Literal(bits)))
  def winnow_fingerprints(text: Column, k: Int, window: Int): Column =
    toColumn(WinnowFingerprints(toExpr(text), Literal(k), Literal(window)))
  def token_lcs(a: Column, b: Column): Column =
    toColumn(TokenLcs(toExpr(a), toExpr(b)))
  def char_gram_hashes(text: Column, n: Int): Column =
    toColumn(CharGramHashes(toExpr(text), Literal(n)))
  def gram_overlap_counts(ref: Column, cand: Column, maxN: Int): Column =
    toColumn(GramOverlapCounts(toExpr(ref), toExpr(cand), Literal(maxN),
      chars = false))
  def char_gram_overlap_counts(ref: Column, cand: Column, maxN: Int): Column =
    toColumn(GramOverlapCounts(toExpr(ref), toExpr(cand), Literal(maxN),
      chars = true))

  /** Composite [0,1] quality score over text_stats fields: penalizes very
    * short/long docs, low alpha ratio, high punct/digit ratios, extreme
    * token lengths. Pure codegen'd column arithmetic over the struct. */
  def quality_score(text: Column): Column = {
    val s = text_stats(text)
    val lenScore = least(s("n_tokens") / lit(20.0), lit(1.0)) *
      when(s("n_chars") > 20000, 0.5).otherwise(1.0)
    val alphaScore = s("alpha_ratio") / greatest(s("alpha_ratio") + s("punct_ratio") + s("digit_ratio"), lit(1e-9))
    val tokLenScore = when(s("avg_token_len").between(2.0, 12.0), 1.0).otherwise(0.5)
    round(least(greatest(lenScore * alphaScore * tokLenScore, lit(0.0)), lit(1.0)), 6)
  }

  // ---- Vector / similarity (embedding ops) ----
  def vec_dot(a: Column, b: Column): Column = toColumn(VecDot(toExpr(a), toExpr(b)))
  def vec_cosine(a: Column, b: Column): Column = toColumn(VecCosine(toExpr(a), toExpr(b)))
  def vec_norm(a: Column): Column = toColumn(VecNorm(toExpr(a)))
  def srp_signature(vec: Column, bits: Int, seed: Column): Column =
    toColumn(SrpSignature(toExpr(vec), Literal(bits), toExpr(seed)))
  def srp_signature(vec: Column, bits: Int, seed: Long): Column =
    srp_signature(vec, bits, lit(seed))
  def nearest_centroids(vec: Column, codebook: Column, nProbe: Int): Column =
    toColumn(NearestCentroids(toExpr(vec), toExpr(codebook), Literal(nProbe)))
}

/** SQL registration of every graft function, for spark.sql(...) use.
  * Idempotent; callable on any session. A builder's patterns are the one
  * declaration of the argument counts its function accepts. */
object GraftFunctions {
  type Builder = PartialFunction[Seq[Expression], Expression]

  private def aggB(f: Builder): Builder =
    f.andThen(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction]
      .toAggregateExpression())

  /** The argument counts up to 8 that `b`'s patterns accept. */
  private[api] def arities(b: Builder): Seq[Int] =
    (0 to 8).filter(n => b.isDefinedAt(Seq.fill(n)(Literal(null))))

  /** `b` as a registry builder: any other count of arguments is a
    * WRONG_NUM_ARGS error listing the counts `b` accepts. */
  private[api] def checked(name: String, b: Builder): Seq[Expression] => Expression = {
    val ok = arities(b)
    es => b.applyOrElse(es, (_: Seq[Expression]) =>
      throw org.apache.spark.sql.graftshim.wrongNumArgs(name, ok, es.length))
  }

  val builders: Seq[(String, Builder)] = Seq(
    "summary_stats" -> aggB {
      case Seq(x) => new SummaryStatsAgg(x)
      case Seq(x, c) => SummaryStatsAgg(x, c)
    },
    "stats_merge_agg" -> aggB { case Seq(s) => StatsMergeAgg(s) },
    "tdigest" -> aggB {
      case Seq(x) => new TDigestAgg(x)
      case Seq(x, w) => new TDigestAgg(x, w)
      case Seq(x, w, c) => TDigestAgg(x, w, c)
    },
    "tdigest_merge_agg" -> aggB { case Seq(s) => TDigestMergeAgg(s) },
    "ss_topk_agg" -> aggB {
      case Seq(i) => new SpaceSavingAgg(i)
      case Seq(i, c) => new SpaceSavingAgg(i, c)
      case Seq(i, c, cap) => SpaceSavingAgg(i, c, cap)
    },
    "ss_merge_agg" -> aggB { case Seq(s) => SpaceSavingMergeAgg(s) },
    "tdigest_quantile" -> { case Seq(s, q) => TDigestQuantile(s, q) },
    "tdigest_quantiles" -> { case Seq(s, q) => TDigestQuantiles(s, q) },
    "tdigest_cdf" -> { case Seq(s, x) => TDigestCdf(s, x) },
    "tdigest_cdfs" -> { case Seq(s, x) => TDigestCdfs(s, x) },
    "tdigest_histogram" -> { case Seq(s, b) => TDigestHistogram(s, b) },
    "tdigest_histogram_at" -> { case Seq(s, e) => TDigestHistogramAt(s, e) },
    "tdigest_scale" -> { case Seq(s, f) => TDigestScale(s, f) },
    "tdigest_centroids" -> { case Seq(s) => TDigestCentroids(s) },
    "tdigest_size" -> { case Seq(s) => TDigestStat(s, "size") },
    "tdigest_min" -> { case Seq(s) => TDigestStat(s, "min") },
    "tdigest_max" -> { case Seq(s) => TDigestStat(s, "max") },
    "ss_topk" -> { case Seq(s, k) => SSTopK(s, k, LongType) },
    "ss_topk_long" -> { case Seq(s, k) => SSTopK(s, k, LongType) },
    "ss_topk_double" -> { case Seq(s, k) => SSTopK(s, k, DoubleType) },
    "ss_topk_string" -> { case Seq(s, k) => SSTopK(s, k, StringType) },
    "ss_topk_binary" -> { case Seq(s, k) =>
      SSTopK(s, k, org.apache.spark.sql.types.BinaryType) },
    "ss_size" -> { case Seq(s) => SSSize(s) },
    "ss_capacity" -> { case Seq(s) => SSCapacity(s) },
    "kmv_agg" -> aggB {
      case Seq(v) => new KmvAgg(v)
      case Seq(v, k) => KmvAgg(v, k)
    },
    "kmv_merge_agg" -> aggB { case Seq(s) => KmvMergeAgg(s) },
    "hll_agg" -> aggB {
      case Seq(v) => new HllAgg(v)
      case Seq(v, p) => HllAgg(v, p)
    },
    "hll_merge_agg" -> aggB { case Seq(s) => HllMergeAgg(s) },
    "hll_distinct" -> { case Seq(s) => HllDistinct(s) },
    "hll_union" -> { case Seq(a, b) => HllUnion(a, b) },
    "hll_nonzero" -> { case Seq(s) => HllNonzero(s) },
    "hll_register_xor" -> { case Seq(s) => HllRegisterXor(s) },
    "cms_agg" -> aggB {
      case Seq(i) => new CountMinAgg(i)
      case Seq(i, d, w) => new CountMinAgg(i, d, w)
    },
    "cms_merge_agg" -> aggB { case Seq(s) => CountMinMergeAgg(s) },
    "exact_sum" -> aggB { case Seq(x) => ExactSumAgg(x) },
    "vec_exact_sum" -> aggB { case Seq(x) => VecExactSumAgg(x) },
    "gram_agg" -> aggB { case Seq(v) => GramAgg(v) },
    "cms_count" -> { case Seq(s, i) => CmsCount(s, i) },
    "cms_total" -> { case Seq(s) => CmsTotal(s) },
    "cms_dot" -> { case Seq(a, b) => CmsDot(a, b) },
    "kmv_distinct" -> { case Seq(s) => KmvDistinct(s) },
    "kmv_size" -> { case Seq(s) => KmvSize(s) },
    "kmv_jaccard" -> { case Seq(a, b) => KmvJaccard(a, b) },
    "kmv_set_ops" -> { case Seq(a, b) => KmvSetOpsExpr(a, b) },
    "hash64" -> { case Seq(k) => Hash64(k) },
    "token_count" -> { case Seq(t) => TokenCount(t) },
    "token_count_bpe" -> { case Seq(t) =>
      org.apache.spark.sql.catalyst.expressions.RegExpCount(t,
        Literal(functions.BpeTokenPattern)) },
    "lang_id" -> { case Seq(t) => LangId(t) },
    "text_stats" -> { case Seq(t) => TextStatsExpr(t) },
    "char_entropy" -> { case Seq(t) => CharEntropyExpr(t) },
    "rep_stats" -> { case Seq(t, n) => RepStatsExpr(t, n) },
    "pii_stats" -> { case Seq(t) => PiiStatsExpr(t) },
    "unicode_normalize" -> { case Seq(t, m) => UnicodeNormalize(t, m) },
    "normalize_text" -> { case Seq(t) =>
      UnicodeNormalize(t, Literal("clean")) },
    "deflate_ratio" -> { case Seq(t) => DeflateRatio(t) },
    "script_stats" -> { case Seq(t) => ScriptStatsExpr(t) },
    "redact_pii" -> { case Seq(t) => RedactPii(t) },
    "pseudonymize_pii" -> { case Seq(t) => PseudonymizePii(t) },
    "doc_fingerprint" -> { case Seq(t, w) => DocFingerprint(t, w) },
    "minhash_signature" -> { case Seq(t, n, k, s) => MinHashSignature(t, n, k, s) },
    "simhash64" -> { case Seq(t, n) => SimHash64(t, n) },
    "ngram_jaccard" -> { case Seq(a, b, n) => NgramJaccard(a, b, n) },
    "shingle_hashes" -> { case Seq(t, n) => ShingleHashes(t, n) },
    "shingle_hashes_pos" -> { case Seq(t, n) => ShingleHashesPos(t, n) },
    "cdc_chunk_hashes" -> { case Seq(t, b) => CdcChunkHashes(t, b) },
    "winnow_fingerprints" -> { case Seq(t, k, w) => WinnowFingerprints(t, k, w) },
    "token_lcs" -> { case Seq(a, b) => TokenLcs(a, b) },
    "char_gram_hashes" -> { case Seq(t, n) => CharGramHashes(t, n) },
    "gram_overlap_counts" -> { case Seq(r, c, n) =>
      GramOverlapCounts(r, c, n, chars = false) },
    "char_gram_overlap_counts" -> { case Seq(r, c, n) =>
      GramOverlapCounts(r, c, n, chars = true) },
    "vec_dot" -> { case Seq(a, b) => VecDot(a, b) },
    "vec_cosine" -> { case Seq(a, b) => VecCosine(a, b) },
    "vec_norm" -> { case Seq(a) => VecNorm(a) },
    "srp_signature" -> { case Seq(v, b, s) => SrpSignature(v, b, s) },
    "nearest_centroids" -> { case Seq(v, c, k) => NearestCentroids(v, c, k) },
    // stats finishers as SQL functions (the DSL's nodes; optional args
    // must be non-null constants)
    "stats_mean" -> { case Seq(st) => StatsFinisher(st, "mean") },
    "stats_var" -> {
      case Seq(st) => StatsFinisher(st, "var")
      case Seq(st, d) => StatsFinisher(st, "var", foldInt(d, "ddof"))
    },
    "stats_std" -> {
      case Seq(st) => StatsFinisher(st, "std")
      case Seq(st, d) => StatsFinisher(st, "std", foldInt(d, "ddof"))
    },
    "stats_skew" -> {
      case Seq(st) => StatsFinisher(st, "skew")
      case Seq(st, b) => StatsFinisher(st, "skew", bias = foldBool(b, "bias"))
    },
    "stats_kurt" -> {
      case Seq(st) => StatsFinisher(st, "kurt")
      case Seq(st, fi) => StatsFinisher(st, "kurt", fisher = foldBool(fi, "fisher"))
      case Seq(st, fi, b) => StatsFinisher(st, "kurt", bias = foldBool(b, "bias"),
        fisher = foldBool(fi, "fisher"))
    },
    // text/web compositions: built from stock codegen'd expressions, so
    // SQL users get the identical tree the Column DSL builds (toExprTree
    // unwraps to a real Catalyst tree the analyzer can resolve)
    "strip_html" -> { case Seq(t) =>
      toExprTree(graft.ops.Text.stripHtml(toColumn(t))) },
    "char_grams" -> { case Seq(t, n) =>
      toExprTree(graft.ops.LangModel.charGrams(toColumn(t), foldInt(n, "n"))) },
    "registrable_domain" -> { case Seq(h) =>
      toExprTree(graft.ops.Web.registrableDomain(toColumn(h))) }
  )

  private def fold(e: Expression, name: String): Any = {
    val v = if (e.foldable) e.eval() else null
    require(v != null, s"$name must be a non-null constant")
    v
  }
  private def foldInt(e: Expression, name: String): Int =
    fold(e, name).asInstanceOf[Number].intValue()
  private def foldBool(e: Expression, name: String): Boolean =
    fold(e, name).asInstanceOf[Boolean]

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      registry.createOrReplaceTempFunction(name, checked(name, b), "scala_udf")
    }
  }
}

/** SparkSessionExtensions entry point:
  * spark.sql.extensions=graft.api.GraftExtensions */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(classOf[GraftExtensions].getName, name),
        GraftFunctions.checked(name, b)))
    }
  }
}
