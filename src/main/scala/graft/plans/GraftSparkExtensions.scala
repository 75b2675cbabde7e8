package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extension wiring the engine's native expressions into the
  * FunctionRegistry, so they're callable from SQL text:
  *
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftSparkExtensions
  *   spark.sql("SELECT nfkc(text) FROM docs")
  *
  * For an already-built session, use [[GraftFunctions.register]].
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.Kernels.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => CollapseNfkc)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
  }
}

/** Imperative registration for sessions built without the extension. */
object GraftFunctions {

  /** Every SQL-callable native kernel as (SQL name, info, builder): the
    * one list both [[GraftSparkExtensions]] and [[register]] install.
    */
  val Kernels: Seq[(String, ExpressionInfo, FunctionBuilder)] = Seq(
    ("nfkc", NfkcNormalize.info, NfkcNormalize.builder),
    ("cosine_sim", CosineSimilarity.info, CosineSimilarity.builder),
    ("wordlist_hits", WordlistHits.info, WordlistHits.builder),
    ("winnow_sels", WinnowSelect.info, WinnowSelect.builder),
    ("cdc_chunks", CdcChunks.info, CdcChunks.builder),
    ("tokenize_text", TokenizeText.info, TokenizeText.builder),
    ("ngram_rep_stats", NgramRepStats.info, NgramRepStats.builder),
    ("deflate_len", DeflateLength.info, DeflateLength.builder),
    ("deflate_stored_len", DeflateStoredLength.info, DeflateStoredLength.builder),
    ("phrase_hits", PhraseHits.info, PhraseHits.builder),
    ("l2sq", L2SqDistance.info, L2SqDistance.builder),
    ("hilbert_key", HilbertKey.info, HilbertKey.builder),
    ("email_hits", EmailCount.info, EmailCount.builder),
    ("email_mask", EmailMask.info, EmailMask.builder),
    ("pii_counts", PiiCounts.info, PiiCounts.builder),
    ("pii_mask", PiiMaskChain.info, PiiMaskChain.builder),
    ("pii_mask_ext", PiiMaskChainExt.info, PiiMaskChainExt.builder),
    ("pii_scan", PiiScanFused.info, PiiScanFused.builder),
    ("phone_simple_hits", PhoneSimpleCount.info, PhoneSimpleCount.builder),
    ("dhash_sig", DHashSig.info, DHashSig.builder),
    ("audio_sig", AudioSig.info, AudioSig.builder),
    ("markdown_strip", MarkdownStrip.info, MarkdownStrip.builder),
    ("anchor_text_len", AnchorTextLen.info, AnchorTextLen.builder),
    ("token_dist_stats", TokenDistStats.info, TokenDistStats.builder),
    ("char_class_stats", CharClassStats.info, CharClassStats.builder),
    ("token_set_stats", TokenSetStats.info, TokenSetStats.builder),
    ("token_text_stats", TokenTextStats.info, TokenTextStats.builder),
    ("text_profile_stats", TextProfileStats.info, TextProfileStats.builder),
    ("collapse_repeats", CollapseRepeats.info, CollapseRepeats.builder),
    ("strip_tags", StripTags.info, StripTags.builder),
    ("dot_product", DotProduct.info, DotProduct.builder),
    ("fix_mojibake", FixMojibake.info, FixMojibake.builder),
    ("simhash64", Simhash64.info, Simhash64.builder),
    ("md5_prefix_long", Md5PrefixLong.info, Md5PrefixLong.builder))

  def register(spark: SparkSession): Unit = {
    Kernels.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(CollapseNfkc))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ CollapseNfkc
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy
  }
}
