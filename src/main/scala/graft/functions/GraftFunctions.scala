package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration for graft's native expressions.
  *
  * Two paths:
  *  - `GraftExtensions` — the library-grade route: users add
  *    `spark.sql.extensions=graft.functions.GraftExtensions` at session
  *    build and `graft_cosine(a, b)` resolves everywhere (SQL included).
  *  - `register(spark)` — runtime injection into an existing session's
  *    function registry, for harness-built sessions the library cannot
  *    configure (the Verify/Bench entry points call this lazily).
  */
object GraftFunctions {

  private val cosineBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => CosineSimilarity(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_cosine expects 2 arguments, got ${other.size}")
  }

  private val cosineInfo = new ExpressionInfo(
    classOf[CosineSimilarity].getName, "graft_cosine")

  private val dotLongBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => LongDotProduct(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_dot_long expects 2 arguments, got ${other.size}")
  }

  private val dotLongInfo = new ExpressionInfo(
    classOf[LongDotProduct].getName, "graft_dot_long")

  private val nearestCentroidBuilder: Seq[Expression] => Expression = {
    case Seq(v, cents) => NearestCentroid(v, cents)
    case other => throw new IllegalArgumentException(
      s"graft_nearest_centroid expects 2 arguments, got ${other.size}")
  }

  private val nearestCentroidInfo = new ExpressionInfo(
    classOf[NearestCentroid].getName, "graft_nearest_centroid")

  private val minhashBuilder: Seq[Expression] => Expression = {
    case Seq(t, n, k) => MinHashSig(t, n, k)
    case other => throw new IllegalArgumentException(
      s"graft_minhash expects 3 arguments, got ${other.size}")
  }

  private val minhashInfo = new ExpressionInfo(
    classOf[MinHashSig].getName, "graft_minhash")

  private val shinglesBuilder: Seq[Expression] => Expression = {
    case Seq(t, n) => ShinglesExpr(t, n)
    case other => throw new IllegalArgumentException(
      s"graft_shingles expects 2 arguments, got ${other.size}")
  }

  private val shinglesInfo = new ExpressionInfo(
    classOf[ShinglesExpr].getName, "graft_shingles")

  private val sigAgreeBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => SigAgree(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_sig_agree expects 2 arguments, got ${other.size}")
  }

  private val sigAgreeInfo = new ExpressionInfo(
    classOf[SigAgree].getName, "graft_sig_agree")

  private val medMadBuilder: Seq[Expression] => Expression = {
    case Seq(v) => MedMadAgg(v)
    case other => throw new IllegalArgumentException(
      s"graft_med_mad expects 1 argument, got ${other.size}")
  }

  private val medMadInfo = new ExpressionInfo(
    classOf[MedMadAgg].getName, "graft_med_mad")

  private val histBuilder: Seq[Expression] => Expression = {
    case Seq(c, l, h, b) => HistogramAgg(c, l, h, b)
    case other => throw new IllegalArgumentException(
      s"graft_hist expects 4 arguments, got ${other.size}")
  }

  private val histInfo = new ExpressionInfo(
    classOf[HistogramAgg].getName, "graft_hist")

  private val histQuantileBuilder: Seq[Expression] => Expression = {
    case Seq(h, lo, hi, q) => HistQuantile(h, lo, hi, q)
    case other => throw new IllegalArgumentException(
      s"graft_hist_quantile expects 4 arguments, got ${other.size}")
  }

  private val histQuantileInfo = new ExpressionInfo(
    classOf[HistQuantile].getName, "graft_hist_quantile")

  private val tdigestBuilder: Seq[Expression] => Expression = {
    case Seq(c, comp) => TDigestAgg(c, comp)
    case other => throw new IllegalArgumentException(
      s"graft_tdigest expects 2 arguments, got ${other.size}")
  }

  private val tdigestInfo = new ExpressionInfo(
    classOf[TDigestAgg].getName, "graft_tdigest")

  private val tdigestMergeBuilder: Seq[Expression] => Expression = {
    case Seq(c) => TDigestMergeAgg(c)
    case other => throw new IllegalArgumentException(
      s"graft_tdigest_merge expects 1 argument, got ${other.size}")
  }

  private val tdigestMergeInfo = new ExpressionInfo(
    classOf[TDigestMergeAgg].getName, "graft_tdigest_merge")

  private val tdigestQuantileBuilder: Seq[Expression] => Expression = {
    case Seq(sk, q) => TDigestQuantile(sk, q)
    case other => throw new IllegalArgumentException(
      s"graft_tdigest_quantile expects 2 arguments, got ${other.size}")
  }

  private val tdigestQuantileInfo = new ExpressionInfo(
    classOf[TDigestQuantile].getName, "graft_tdigest_quantile")

  private val freqBuilder: Seq[Expression] => Expression = {
    case Seq(c, cap) => FreqSketchAgg(c, cap)
    case other => throw new IllegalArgumentException(
      s"graft_freq expects 2 arguments, got ${other.size}")
  }

  private val freqInfo = new ExpressionInfo(
    classOf[FreqSketchAgg].getName, "graft_freq")

  private val freqMergeBuilder: Seq[Expression] => Expression = {
    case Seq(c) => FreqMergeAgg(c)
    case other => throw new IllegalArgumentException(
      s"graft_freq_merge expects 1 argument, got ${other.size}")
  }

  private val freqMergeInfo = new ExpressionInfo(
    classOf[FreqMergeAgg].getName, "graft_freq_merge")

  private val freqTopKBuilder: Seq[Expression] => Expression = {
    case Seq(sk, k) => FreqTopK(sk, k)
    case other => throw new IllegalArgumentException(
      s"graft_freq_topk expects 2 arguments, got ${other.size}")
  }

  private val freqTopKInfo = new ExpressionInfo(
    classOf[FreqTopK].getName, "graft_freq_topk")

  private val freqErrBuilder: Seq[Expression] => Expression = {
    case Seq(sk) => FreqErr(sk)
    case other => throw new IllegalArgumentException(
      s"graft_freq_err expects 1 argument, got ${other.size}")
  }

  private val freqErrInfo = new ExpressionInfo(
    classOf[FreqErr].getName, "graft_freq_err")

  private val topkBuilder: Seq[Expression] => Expression = {
    case Seq(s, w, i, k) => TopKAgg(s, w, i, k)
    case other => throw new IllegalArgumentException(
      s"graft_topk expects 4 arguments, got ${other.size}")
  }

  private val topkInfo = new ExpressionInfo(
    classOf[TopKAgg].getName, "graft_topk")

  private val h60Builder: Seq[Expression] => Expression = {
    case Seq(x) => H60(x)
    case other => throw new IllegalArgumentException(
      s"graft_h60 expects 1 argument, got ${other.size}")
  }

  private val h60Info = new ExpressionInfo(classOf[H60].getName, "graft_h60")

  private val docGramsBuilder: Seq[Expression] => Expression = {
    case Seq(t, n, seed) => DocGramsH60(t, n, seed)
    case other => throw new IllegalArgumentException(
      s"graft_doc_grams expects 3 arguments, got ${other.size}")
  }

  private val docGramsInfo = new ExpressionInfo(
    classOf[DocGramsH60].getName, "graft_doc_grams")

  private val winnowBuilder: Seq[Expression] => Expression = {
    case Seq(t, n, w, seed) => WinnowFps(t, n, w, seed)
    case other => throw new IllegalArgumentException(
      s"graft_winnow expects 4 arguments, got ${other.size}")
  }

  private val winnowInfo = new ExpressionInfo(
    classOf[WinnowFps].getName, "graft_winnow")

  private val arrPairsBuilder: Seq[Expression] => Expression = {
    case Seq(a) => ArrPairs(a)
    case other => throw new IllegalArgumentException(
      s"graft_arr_pairs expects 1 argument, got ${other.size}")
  }

  private val arrPairsInfo = new ExpressionInfo(
    classOf[ArrPairs].getName, "graft_arr_pairs")

  private val sessionizeBuilder: Seq[Expression] => Expression = {
    case Seq(es, gap, cap) => SessionizeFold(es, gap, cap)
    case other => throw new IllegalArgumentException(
      s"graft_sessionize expects 3 arguments, got ${other.size}")
  }

  private val sessionizeInfo = new ExpressionInfo(
    classOf[SessionizeFold].getName, "graft_sessionize")

  private val packBinsBuilder: Seq[Expression] => Expression = {
    case Seq(ds, c) => PackBinsFold(ds, c)
    case other => throw new IllegalArgumentException(
      s"graft_pack_bins expects 2 arguments, got ${other.size}")
  }

  private val packBinsInfo = new ExpressionInfo(
    classOf[PackBinsFold].getName, "graft_pack_bins")

  private val rateLimitBuilder: Seq[Expression] => Expression = {
    case Seq(es, cap, cost) => RateLimitFold(es, cap, cost)
    case other => throw new IllegalArgumentException(
      s"graft_rate_limit expects 3 arguments, got ${other.size}")
  }

  private val rateLimitInfo = new ExpressionInfo(
    classOf[RateLimitFold].getName, "graft_rate_limit")

  private val gramBuilder: Seq[Expression] => Expression = {
    case Seq(m) => GramAgg(m)
    case other => throw new IllegalArgumentException(
      s"graft_gram expects 1 argument, got ${other.size}")
  }

  private val gramInfo = new ExpressionInfo(
    classOf[GramAgg].getName, "graft_gram")

  private val bootSumsBuilder: Seq[Expression] => Expression = {
    case Seq(h1, h2, c, k) => BootSumsAgg(h1, h2, c, k)
    case other => throw new IllegalArgumentException(
      s"graft_boot_sums expects 4 arguments, got ${other.size}")
  }

  private val bootSumsInfo = new ExpressionInfo(
    classOf[BootSumsAgg].getName, "graft_boot_sums")

  private val rangeTopkBuilder: Seq[Expression] => Expression = {
    case Seq(lo, hi, c, i, k, slots) => RangeTopKAgg(lo, hi, c, i, k, slots)
    case other => throw new IllegalArgumentException(
      s"graft_range_topk expects 6 arguments, got ${other.size}")
  }

  private val rangeTopkInfo = new ExpressionInfo(
    classOf[RangeTopKAgg].getName, "graft_range_topk")

  private val kmvBuilder: Seq[Expression] => Expression = {
    case Seq(h, k) => KmvAgg(h, k)
    case other => throw new IllegalArgumentException(
      s"graft_kmv expects 2 arguments, got ${other.size}")
  }

  private val kmvInfo = new ExpressionInfo(
    classOf[KmvAgg].getName, "graft_kmv")

  private val kmvMergeBuilder: Seq[Expression] => Expression = {
    case Seq(c) => KmvMergeAgg(c)
    case other => throw new IllegalArgumentException(
      s"graft_kmv_merge expects 1 argument, got ${other.size}")
  }

  private val kmvMergeInfo = new ExpressionInfo(
    classOf[KmvMergeAgg].getName, "graft_kmv_merge")

  private val kmvEstBuilder: Seq[Expression] => Expression = {
    case Seq(sk) => KmvEstimate(sk)
    case other => throw new IllegalArgumentException(
      s"graft_kmv_est expects 1 argument, got ${other.size}")
  }

  private val kmvEstInfo = new ExpressionInfo(
    classOf[KmvEstimate].getName, "graft_kmv_est")

  private val kmvInterBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => KmvIntersect(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_kmv_inter expects 2 arguments, got ${other.size}")
  }

  private val kmvInterInfo = new ExpressionInfo(
    classOf[KmvIntersect].getName, "graft_kmv_inter")

  private val lttbBuilder: Seq[Expression] => Expression = {
    case Seq(p, n) => Lttb(p, n)
    case other => throw new IllegalArgumentException(
      s"graft_lttb expects 2 arguments, got ${other.size}")
  }

  private val lttbInfo = new ExpressionInfo(
    classOf[Lttb].getName, "graft_lttb")

  private val pqAdcBuilder: Seq[Expression] => Expression = {
    case Seq(codes, dl, nl) => PqAdcSim(codes, dl, nl)
    case other => throw new IllegalArgumentException(
      s"graft_pq_adc expects 3 arguments, got ${other.size}")
  }

  private val pqAdcInfo = new ExpressionInfo(
    classOf[PqAdcSim].getName, "graft_pq_adc")

  private val bloomBuilder: Seq[Expression] => Expression = {
    case Seq(k, m, h) => BloomAgg(k, m, h)
    case other => throw new IllegalArgumentException(
      s"graft_bloom expects 3 arguments, got ${other.size}")
  }

  private val bloomInfo = new ExpressionInfo(
    classOf[BloomAgg].getName, "graft_bloom")

  private val bloomMergeBuilder: Seq[Expression] => Expression = {
    case Seq(c) => BloomMergeAgg(c)
    case other => throw new IllegalArgumentException(
      s"graft_bloom_merge expects 1 argument, got ${other.size}")
  }

  private val bloomMergeInfo = new ExpressionInfo(
    classOf[BloomMergeAgg].getName, "graft_bloom_merge")

  private val mightContainBuilder: Seq[Expression] => Expression = {
    case Seq(sk, k) => BloomMightContain(sk, k)
    case other => throw new IllegalArgumentException(
      s"graft_might_contain expects 2 arguments, got ${other.size}")
  }

  private val mightContainInfo = new ExpressionInfo(
    classOf[BloomMightContain].getName, "graft_might_contain")

  private val jaroWinklerBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => JaroWinkler(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_jaro_winkler expects 2 arguments, got ${other.size}")
  }

  private val jaroWinklerInfo = new ExpressionInfo(
    classOf[JaroWinkler].getName, "graft_jaro_winkler")

  private val timeSlicesBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, w) => TimeSlices(a, b, w)
    case other => throw new IllegalArgumentException(
      s"graft_time_slices expects 3 arguments, got ${other.size}")
  }

  private val timeSlicesInfo = new ExpressionInfo(
    classOf[TimeSlices].getName, "graft_time_slices")

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("graft_jaro_winkler"), jaroWinklerInfo, jaroWinklerBuilder),
      (FunctionIdentifier("graft_time_slices"), timeSlicesInfo, timeSlicesBuilder),
      (FunctionIdentifier("graft_pq_adc"), pqAdcInfo, pqAdcBuilder),
      (FunctionIdentifier("graft_bloom"), bloomInfo, bloomBuilder),
      (FunctionIdentifier("graft_bloom_merge"), bloomMergeInfo, bloomMergeBuilder),
      (FunctionIdentifier("graft_might_contain"), mightContainInfo, mightContainBuilder),
      (FunctionIdentifier("graft_lttb"), lttbInfo, lttbBuilder),
      (FunctionIdentifier("graft_topk"), topkInfo, topkBuilder),
      (FunctionIdentifier("graft_range_topk"), rangeTopkInfo, rangeTopkBuilder),
      (FunctionIdentifier("graft_h60"), h60Info, h60Builder),
      (FunctionIdentifier("graft_doc_grams"), docGramsInfo, docGramsBuilder),
      (FunctionIdentifier("graft_winnow"), winnowInfo, winnowBuilder),
      (FunctionIdentifier("graft_arr_pairs"), arrPairsInfo, arrPairsBuilder),
      (FunctionIdentifier("graft_sessionize"), sessionizeInfo, sessionizeBuilder),
      (FunctionIdentifier("graft_pack_bins"), packBinsInfo, packBinsBuilder),
      (FunctionIdentifier("graft_rate_limit"), rateLimitInfo, rateLimitBuilder),
      (FunctionIdentifier("graft_gram"), gramInfo, gramBuilder),
      (FunctionIdentifier("graft_boot_sums"), bootSumsInfo, bootSumsBuilder),
      (FunctionIdentifier("graft_kmv"), kmvInfo, kmvBuilder),
      (FunctionIdentifier("graft_kmv_merge"), kmvMergeInfo, kmvMergeBuilder),
      (FunctionIdentifier("graft_kmv_est"), kmvEstInfo, kmvEstBuilder),
      (FunctionIdentifier("graft_kmv_inter"), kmvInterInfo, kmvInterBuilder),
      (FunctionIdentifier("graft_freq"), freqInfo, freqBuilder),
      (FunctionIdentifier("graft_freq_merge"), freqMergeInfo, freqMergeBuilder),
      (FunctionIdentifier("graft_freq_topk"), freqTopKInfo, freqTopKBuilder),
      (FunctionIdentifier("graft_freq_err"), freqErrInfo, freqErrBuilder),
      (FunctionIdentifier("graft_hist"), histInfo, histBuilder),
      (FunctionIdentifier("graft_hist_quantile"), histQuantileInfo, histQuantileBuilder),
      (FunctionIdentifier("graft_tdigest"), tdigestInfo, tdigestBuilder),
      (FunctionIdentifier("graft_tdigest_merge"), tdigestMergeInfo, tdigestMergeBuilder),
      (FunctionIdentifier("graft_tdigest_quantile"), tdigestQuantileInfo, tdigestQuantileBuilder),
      (FunctionIdentifier("graft_cosine"), cosineInfo, cosineBuilder),
      (FunctionIdentifier("graft_dot_long"), dotLongInfo, dotLongBuilder),
      (FunctionIdentifier("graft_nearest_centroid"), nearestCentroidInfo, nearestCentroidBuilder),
      (FunctionIdentifier("graft_minhash"), minhashInfo, minhashBuilder),
      (FunctionIdentifier("graft_shingles"), shinglesInfo, shinglesBuilder),
      (FunctionIdentifier("graft_sig_agree"), sigAgreeInfo, sigAgreeBuilder),
      (FunctionIdentifier("graft_med_mad"), medMadInfo, medMadBuilder))

  /** Inject into a live session's registry, once per session: operators
    * call this on every invocation (they can't know whether the session
    * came up with GraftExtensions), so re-registration must cost a lookup,
    * not a registry walk — part of the catalog's per-query constant (r10
    * floor audit). */
  def register(spark: SparkSession): Unit =
    graft.ArtifactStore(spark, "graft_functions") {
      val registry: FunctionRegistry = spark.sessionState.functionRegistry
      registrations.foreach { case (id, info, builder) =>
        registry.registerFunction(id, info, builder)
      }
      registry
    }
}

/** `spark.sql.extensions` entry point: scalar/aggregate functions plus the
  * native as-of join planner strategy. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.registrations.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.DerivedPartitionFilters)
  }
}
