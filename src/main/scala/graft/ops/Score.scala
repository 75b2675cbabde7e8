package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quality scoring + mixture assignment (SURVEY.md §2.10, Q1/Q2).
  *
  * Arithmetic replicated from scoring_and_mixture.py:52-106 (weights
  * 0.4 lang / 0.3 length / 0.2 uniqueness / 0.1 pii, clamped to [0,1])
  * and :141-143 (subset threshold 0.8). Pure column expressions; the
  * exact same formula is emitted as DuckDB SQL by `duckdbExpr` so the
  * oracle can never drift from the engine.
  */
object Score {

  val MinTokensPref = 20
  val MaxTokensPref = 1000
  val HighQualityThreshold = 0.8

  private def clamp01(c: Column): Column = greatest(lit(0.0), least(lit(1.0), c))

  /** Q1: quality_score in [0,1]. Null handling mirrors the reference's
    * `row.get(col) or 0.0` (null -> 0.0, missing has_pii -> false).
    */
  def qualityScore(langScore: Column, tokenCount: Column,
                   uniqueTokenRatio: Column, hasPii: Column): Column = {
    val lang = clamp01(coalesce(langScore, lit(0.0)))
    val tc = coalesce(tokenCount, lit(0)).cast("double")
    val maxCap = (MaxTokensPref * 4).toDouble
    val lengthScore =
      when(tc <= 0.0, 0.0)
        .when(tc < MinTokensPref, tc / MinTokensPref.toDouble)
        .when(tc > MaxTokensPref,
          greatest(lit(0.0),
            lit(1.0) - (least(tc, lit(maxCap)) - MaxTokensPref.toDouble)
              / (maxCap - MaxTokensPref.toDouble)))
        .otherwise(1.0)
    val uniq = clamp01(coalesce(uniqueTokenRatio, lit(0.0)))
    val pii = when(coalesce(hasPii, lit(false)), 0.0).otherwise(1.0)
    clamp01(lit(0.4) * lang + lit(0.3) * lengthScore + lit(0.2) * uniq + lit(0.1) * pii)
  }

  /** Q2: subset label from the score. */
  def subset(score: Column): Column =
    when(score >= HighQualityThreshold, "high_quality").otherwise("rest")

  /** DuckDB SQL for the identical quality_score, given SQL fragments for
    * the four inputs. Operation order matches `qualityScore` exactly so
    * double results are bit-identical.
    */
  def duckdbExpr(langScore: String, tokenCount: String,
                 uniqueTokenRatio: String, hasPii: String): String = {
    val maxCap = (MaxTokensPref * 4).toDouble
    val tc = s"CAST(coalesce($tokenCount, 0) AS DOUBLE)"
    val lang = s"greatest(0.0, least(1.0, coalesce($langScore, 0.0)))"
    val lengthScore =
      s"""CASE WHEN $tc <= 0.0 THEN 0.0
         | WHEN $tc < $MinTokensPref THEN $tc / ${MinTokensPref.toDouble}
         | WHEN $tc > $MaxTokensPref THEN greatest(0.0, 1.0 - (least($tc, $maxCap) - ${MaxTokensPref.toDouble}) / ${maxCap - MaxTokensPref.toDouble})
         | ELSE 1.0 END""".stripMargin.replace("\n", " ")
    val uniq = s"greatest(0.0, least(1.0, coalesce($uniqueTokenRatio, 0.0)))"
    val pii = s"CASE WHEN coalesce($hasPii, false) THEN 0.0 ELSE 1.0 END"
    s"greatest(0.0, least(1.0, 0.4 * $lang + 0.3 * ($lengthScore) + 0.2 * $uniq + 0.1 * $pii))"
  }

  /** Unigram log-probability scoring — the perplexity-filter analogue
    * (CCNet-style LM quality gates, with the corpus' own unigram model
    * standing in for the external LM): each doc gets Σ ln p(token) under
    * corpus-wide token frequencies. Fluent/common text scores high
    * (close to 0); rare-token gibberish scores very negative.
    *
    * Float discipline: per-token log-probs are floor-quantized to 1e-4
    * BEFORE the per-doc sum, so the aggregate is an INTEGER sum —
    * merge-order-proof (the same trick as [[StatsAgg]]), bit-identical
    * across partitionings and engines. Two keyed aggs + one token join;
    * the one-row total is a broadcast. Docs with no tokens score 0/0.
    */
  def unigramLogprobs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(graft.text.TextMetrics.tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    // total from the (tiny) vocab, NOT a third pass over the corpus
    val total = vocab.agg(sum("cnt").as("__n"))
    val perDoc = toks.join(vocab, Seq("tok"))
      .crossJoin(broadcast(total))
      .withColumn("lp_q",
        floor(log(col("cnt").cast("double") / col("__n")) * 10000).cast("long"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_toks"), sum("lp_q").as("lp_sum_q"))
    df.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("lp_sum_q"), lit(0L)).as("lp_sum_q"))
  }

  /** Bigram conditional log-probability — the fluency signal one order
    * up from [[unigramLogprobs]]: Σ ln P(w2|w1) with
    * P(w2|w1) = c(w1 w2) / c(w1 ·), both counts from the corpus itself
    * (c(w1 ·) = bigram-START count, so the conditional sums to exactly
    * 1 per context — no end-of-doc edge case). Token-soup scores near
    * n·ln(1/V); repeated phrasing scores higher — the same axis CCNet's
    * LM perplexity measures, estimable in two aggregates.
    *
    * Scale shape mirrors the unigram op: one explode into (doc, w1, w2),
    * one keyed agg for bigram counts; the bigram-start marginal folds
    * from that table and joins back into it keyed on w1 (counts-table
    * sized — never broadcast: web-scale vocabularies outgrow any
    * budget); the big join (doc bigrams ⋈ enriched counts) keys on the
    * pair once. Per-pair quantization before the per-doc BIGINT sum —
    * order-proof.
    */
  /** Array of overlapping n-gram structs (fields w1..wn) over a token
    * array — the shared explode input for [[bigramLogprobs]] and both
    * KN estimators. One definition keeps the index arithmetic and the
    * empty-array cast in sync across orders (and with the DuckDB slice
    * mirrors in the oracle SQL).
    */
  private[graft] def ngramStructs(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => struct((1 to n).map(j =>
          element_at(toks, i + j).as(s"w$j")): _*)))
      .otherwise(array().cast(
        s"array<struct<${(1 to n).map(j => s"w$j:string").mkString(",")}>>"))

  def bigramLogprobs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bi = df
      .withColumn("__toks", graft.text.TextMetrics.tokens(col(textCol)))
      .select(col(idCol).as("id"),
        explode(ngramStructs(col("__toks"), 2)).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // cb is vocab²-bounded but feeds two branches (the marginal and the
    // scoring join) — persist so the corpus-wide explode aggregates once
    // (released by the caller's clearCache, like sourceKl's counts).
    // The start-marginal joins into cb on w1 — a cheap shuffle of the
    // counts table, NOT a broadcast: distinct first tokens are
    // vocab-sized, and web-scale vocabularies (urls, numbers, typos)
    // outgrow any broadcast budget.
    val cb = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cs = cb.groupBy("w1").agg(sum("cb").as("cs"))
    val scored = bi
      .join(cb.join(cs, Seq("w1")), Seq("w1", "w2"))
      .withColumn("blp_q",
        floor(log(col("cb").cast("double") / col("cs").cast("double")) * 10000)
          .cast("long"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"), sum("blp_q").as("blp_sum_q"))
    df.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("blp_sum_q"), lit(0L)).as("blp_sum_q"))
  }

  /** PMI collocations — corpus-level phrase mining (Church & Hanks '90,
    * the standard bigram-association measure): for adjacent token pairs
    * seen at least `minCount` times,
    * `pmi = ln( p(w1,w2) / (p(w1)·p(w2)) )` with pair probability over
    * the bigram total and token probabilities over the unigram total.
    * High-PMI pairs are the multi-word units ("San Francisco") a
    * tokenizer or phrase-aware dedup wants as atoms; the min-count
    * floor removes the degenerate rare-pair spikes PMI is known for.
    *
    * Scale shape: two corpus explodes → two keyed count aggs (both
    * vocab-bounded); the totals fold from the COUNT tables, not a
    * third corpus pass; the min-count filter shrinks the pair table to
    * a sliver BEFORE the two unigram enrich joins (counts-table keyed
    * — never a corpus shuffle). PMI is quantized `floor(·*1e4)` per
    * pair, the established log-parity contract with the oracle.
    * Both count tables persist (each feeds its total + a join);
    * released by the caller's clearCache, same contract as
    * [[bigramLogprobs]]'s `cb`.
    */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Int = 5): DataFrame = {
    val toksDf = df
      .withColumn("__toks", graft.text.TextMetrics.tokens(col(textCol)))
    val uni = toksDf.select(explode(col("__toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n1 = uni.agg(sum("c1").as("__n1"))
    val cb = toksDf
      .select(explode(ngramStructs(col("__toks"), 2)).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n2 = cb.agg(sum("c12").as("__n2"))
    cb.filter(col("c12") >= minCount)
      .join(uni.select(col("tok").as("w1"), col("c1").as("c1a")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c1").as("c1b")), Seq("w2"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .withColumn("pmi_q",
        floor(log((col("c12").cast("double") / col("__n2")) /
          ((col("c1a").cast("double") / col("__n1")) *
            (col("c1b").cast("double") / col("__n1")))) * 10000).cast("long"))
      .select(col("w1"), col("w2"), col("c12").as("n12"), col("pmi_q"))
  }

  val KnDiscount = 0.75

  /** Interpolated Kneser–Ney TRIGRAM log-probability — the full
    * higher-order construction of Chen & Goodman §4.1.6 (the shape
    * KenLM builds for CCNet's 5-gram filter, here at order 3):
    *
    *   P₃(w|u,v) = (max(c(uvw) − D, 0) + D·N1+(uv·)·P₂(w|v)) / c(uv·)
    *   P₂(w|v)   = (max(N1+(·vw) − D, 0) + D·N1+c(v·)·P₁(w)) / N1+(·v·)
    *   P₁(w)     = N1+(·w) / |bigram types|
    *
    * The essential KN property holds at EVERY level: the middle order
    * is estimated from CONTINUATION counts (how many distinct contexts
    * u precede the bigram vw), not raw counts — a bigram frequent only
    * inside one boilerplate trigram contributes almost nothing to the
    * backoff mass, exactly the behavior that makes KN the right
    * smoothing for de-boilerplated web text.
    *
    * Scale shape: one trigram explode + one bigram explode (the
    * unigram continuation marginal is bigram-based, per the
    * construction). EVERY marginal is attached to the trigram TYPE
    * table by WINDOW aggregates sharing one exchange (see the inline
    * note) — N1+(uv·) and c(uv·) over (u,v); N1+(·vw) over (v,w); its
    * v-marginals over (v); nothing re-scans the corpus and nothing
    * type-table-sized persists. The bigram-type total is a driver long
    * folded from the vocab-sized n1r sliver. Per-trigram quantization
    * before the per-doc BIGINT sum, as everywhere.
    */
  def knTrigramLogprobs(df: DataFrame, idCol: String, textCol: String,
                        discount: Double = KnDiscount): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.withColumn("__toks",
      graft.text.TextMetrics.tokens(col(textCol)))
    val tri = toks
      .select(col(idCol).as("id"),
        explode(ngramStructs(col("__toks"), 3)).as("tg"))
      .select(col("id"), col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
    val bi = toks
      .select(col(idCol).as("id"),
        explode(ngramStructs(col("__toks"), 2)).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // trigram pair-count table — single consumer now (the window chain
    // below), so no persist: the r14 agg+join form kept three persisted
    // type tables alive just to re-join marginals back
    val c3 = tri.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    // bigram-based unigram continuation: N1+(·w) / |bigram types|.
    // t2 = |bigram types| folds from the n1r SLIVER (Σ n1r ≡ count of
    // cb2 rows) — one tiny agg instead of a second pass over the
    // persisted bigram type table; n1r (vocab-sized) persists for its
    // two consumers (the t2 action + the scoring-chain join).
    val n1r = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .groupBy(col("w2").as("w3")).agg(count(lit(1)).as("n1r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t2 = n1r.agg(sum("n1r")).collect()(0).getLong(0).toDouble
    // association pinned to mirror the oracle SQL token-for-token
    val p2 = (greatest(col("n1p23").cast("double") - discount, lit(0.0))
      + ((lit(discount) * col("n1fc2")) * col("n1r")) / lit(t2)) /
      col("denom2")
    val p3 = (greatest(col("c3").cast("double") - discount, lit(0.0))
      + (lit(discount) * col("n1f3")) * col("__p2")) / col("cs3")
    // Marginal-fold as WINDOWS over the type table, not agg+self-join
    // (guide §2.4 "two operations keyed the same way share one
    // exchange"): every marginal is a plain partition aggregate of c3 —
    //   cs3/n1f3  = sum(c3)/count(*)          over (w1,w2)
    //   n1p23     = count(*)                  over (w2,w3)
    //   denom2    = Σ_{w3} n1p23 = count(*)   over (w2)
    //   n1fc2     = # distinct (w2,w3) types  over (w2)  (first-row flag)
    // and a window attaches the value in place of an agg exchange PLUS
    // a join pair. The (w2)-first window order lets hash(w2) satisfy
    // the (w2,w3) and (w1,w2) clusterings (subset rule), so the whole
    // chain runs on ONE exchange of the type table plus the n1r join —
    // the r14 chain re-shuffled the type table four times (13 → 8
    // Exchanges in the after-plan, −20% bench A/B). Skew note: the old
    // midctx join was ALREADY keyed on w2 alone, so the w2 window
    // partitioning adds no distribution risk the join form didn't have.
    // Every marginal VALUE is the identical long, so the doubles —
    // and the quantized logprobs — are bit-identical (the q_kn_trigram
    // DuckDB oracle pins row equality by hash).
    val w2w = Window.partitionBy("w2")
    val w23 = Window.partitionBy("w2", "w3")
    val w12 = Window.partitionBy("w1", "w2")
    val lpByType = c3
      .withColumn("denom2", count(lit(1)).over(w2w))
      .withColumn("n1p23", count(lit(1)).over(w23))
      .withColumn("__f", when(row_number().over(
        Window.partitionBy("w2", "w3").orderBy("w1")) === 1, 1L)
        .otherwise(0L))
      .withColumn("n1fc2", sum("__f").over(w2w))
      .withColumn("cs3", sum("c3").over(w12))
      .withColumn("n1f3", count(lit(1)).over(w12))
      .join(n1r, Seq("w3"))
      .withColumn("__p2", p2)
      .withColumn("k3lp_q", floor(log(p3) * 10000).cast("long"))
      .select("w1", "w2", "w3", "k3lp_q")
    val scored = tri
      .join(lpByType, Seq("w1", "w2", "w3"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_trigrams"), sum("k3lp_q").as("kn3_lp_sum_q"))
    val out = df.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("kn3_lp_sum_q"), lit(0L)).as("kn3_lp_sum_q"))
    out
  }

  /** Interpolated Kneser–Ney bigram log-probability — the actual
    * smoothing family behind the KenLM models CCNet/CC-Net-style
    * pipelines filter with (Heafield 2011; Chen & Goodman 1998 §4.1.6),
    * where [[bigramLogprobs]] is the unsmoothed MLE estimate:
    *
    *   P_KN(w2|w1) = (max(c(w1 w2) − D, 0) + D·N1+(w1 ·)·P_cont(w2)) / c(w1 ·)
    *   P_cont(w2)  = N1+(· w2) / |{distinct bigram types}|
    *
    * with absolute discount D = 0.75 (exactly representable in binary,
    * so the arithmetic is bit-reproducible). The continuation
    * probability is what distinguishes KN from plain backoff: a word's
    * unigram weight is how many CONTEXTS it follows, not how often it
    * occurs — "Francisco" scores low even though it is frequent,
    * because it only ever follows "San".
    *
    * Scale shape: identical to [[bigramLogprobs]] — one explode, one
    * pair-keyed count; the three smoothing marginals (start counts +
    * distinct-successor counts keyed w1, distinct-predecessor counts
    * keyed w2) attach to the pair-count table as WINDOW aggregates
    * (one exchange per key instead of agg+join pairs — see the inline
    * note); the table is persisted so the corpus explode aggregates
    * once. The type total is a one-row aggregate of that table
    * collected to the driver (a single long, like
    * [[graft.queries.RelationalQueries]]'s quartile count) and
    * inlined as a literal. Per-pair quantization before the per-doc
    * BIGINT sum — merge-order-proof.
    */
  def knBigramLogprobs(df: DataFrame, idCol: String, textCol: String,
                       discount: Double = KnDiscount): DataFrame = {
    val bi = df
      .withColumn("__toks", graft.text.TextMetrics.tokens(col(textCol)))
      .select(col(idCol).as("id"),
        explode(ngramStructs(col("__toks"), 2)).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // pair counts feed two consumers (the type-total action + the
    // window chain) — persist so the corpus-wide explode aggregates
    // once (released by the caller's clearCache, like bigramLogprobs)
    val cb = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // |bigram types| — ONE driver long off the (vocab²-bounded) type
    // table, inlined as a literal so the oracle's CROSS JOIN total and
    // this plan see the identical double
    val types = cb.count().toDouble
    // association pinned to mirror the oracle SQL token-for-token:
    // (max(cb−D, 0) + ((D·n1f)·n1r)/T) / cs
    val p = (greatest(col("cb").cast("double") - discount, lit(0.0))
      + ((lit(discount) * col("n1f")) * col("n1r")) / lit(types)) / col("cs")
    // Marginals as WINDOWS over the type table, not agg+self-join
    // (guide §2.4; same collapse as knTrigramLogprobs): N1+(w1 ·) =
    // count(*) and c(w1 ·) = sum(cb) over partition (w1); N1+(· w2) =
    // count(*) over partition (w2). A window attaches each value with
    // one exchange where the r14 form paid an agg exchange plus a join
    // per marginal (10 → 6 Exchanges in the after-plan; window keys
    // are exactly the old join keys, so no new skew). Identical longs
    // in, identical doubles and quantized logprobs out (the
    // q_kn_perplexity DuckDB oracle pins row equality by hash). The
    // corpus-length frame still joins ONCE, keyed on the pair.
    val w1w = org.apache.spark.sql.expressions.Window.partitionBy("w1")
    val w2w = org.apache.spark.sql.expressions.Window.partitionBy("w2")
    val lpByType = cb
      .withColumn("n1r", count(lit(1)).over(w2w))
      .withColumn("cs", sum("cb").over(w1w))
      .withColumn("n1f", count(lit(1)).over(w1w))
      .withColumn("klp_q", floor(log(p) * 10000).cast("long"))
      .select("w1", "w2", "klp_q")
    val scored = bi
      .join(lpByType, Seq("w1", "w2"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"), sum("klp_q").as("kn_lp_sum_q"))
    df.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("kn_lp_sum_q"), lit(0L)).as("kn_lp_sum_q"))
  }
}
