package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interpolated Kneser-Ney bigram language model, self-trained on a
  * corpus and used to score per-document perplexity — the CCNet-style
  * LM quality filter (perplexity terciles decide head/middle/tail
  * treatment of a crawl). The count tables mirror what q_kn_counts /
  * q_ngram_orders derive; this operator closes the loop from counts to
  * an actual document score.
  *
  * Model (absolute discount D = 0.75, the standard KN default):
  *
  *   P(w2|w1) = max(c(w1,w2) - D, 0) / c(w1·)
  *            + (D · N1+(w1·) / c(w1·)) · N1+(·w2) / N_types
  *
  * where c(w1·) is the context total, N1+(w1·)/N1+(·w2) are the
  * forward/backward continuation type counts, and N_types is the
  * number of distinct bigrams. Because the model is trained on the
  * corpus it scores, every scored bigram has c ≥ 1 — no zero
  * probabilities and no OOV branch, which keeps the oracle SQL an
  * exact mirror.
  *
  * Scale: the corpus shuffles ONCE on the bigram key to build counts;
  * the context and continuation tables are vocabulary-sized aggregates
  * OF the count table (never a corpus rescan) and broadcast back; the
  * scoring join is (w1, w2)-keyed — corpus-sized on one side,
  * bigram-type-sized on the other, the standard distributed LM-scoring
  * shape. The model DataFrame is a pure function of the corpus and can
  * be parquet-persisted and reused across scoring batches exactly like
  * [[Dedup.buildBandIndex]].
  */
object KnLm {

  val Discount = 0.75

  /** (doc_id, w1, w2) — one row per bigram OCCURRENCE, document order
    * preserved only in multiplicity (scoring needs the multiset, not
    * positions).
    */
  def docBigrams(docs: DataFrame, idCol: String, toksCol: Column): DataFrame =
    // NO spread here: measured at gate SF, a repartition made every
    // KN row SLOWER — the tokenize+explode this path pays is ~0.5 task-CPU-s, far below the
    // cost of the extra Exchange plus the 32-wide downstream stages the
    // spread drags in (q_kn_perplexity 1.04 -> 1.39-2.31 s across
    // three measurement windows; both KN consumers call this
    // once or twice per evaluation and groupBy re-spreads right after).
    // At real scale the scan is already wide and the spread would be a
    // no-op anyway, so removing it costs nothing there either.
    docs
      .select(col(idCol), toksCol.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(
        col(idCol),
        explode(
          expr(
            "transform(sequence(1, size(toks) - 1), " +
              "i -> struct(toks[i-1] as w1, toks[i] as w2))"
          )
        ).as("g")
      )
      .select(col(idCol), col("g.w1"), col("g.w2"))

  /** The three count tables every KN quantity derives from: bigram
    * counts (one corpus shuffle, localCheckpointed — every consumer
    * reads the materialized table, the corpus is never rescanned),
    * the per-context marginals and the per-word continuation types
    * (both vocabulary-sized aggregates OF the count table).
    */
  private def countTables(bigrams: DataFrame): (DataFrame, DataFrame, DataFrame, Double) = {
    val counts = bigrams
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // feeds ctx, cont, the type count, and the model join
    val ctx = counts
      .groupBy(col("w1"))
      .agg(sum(col("c")).as("ctx_c"), count(lit(1)).as("fwd_types"))
    val cont = counts
      .groupBy(col("w2"))
      .agg(count(lit(1)).as("back_types"))
    val nTypes = counts.count().toDouble // scalar of the model table, not the corpus
    (counts, ctx, cont, nTypes)
  }

  /** Bigram model table: (w1, w2, logp). One corpus shuffle; the two
    * marginal tables broadcast (vocabulary-sized by construction).
    */
  def bigramLogProbs(bigrams: DataFrame): DataFrame = {
    val (counts, ctx, cont, nTypes) = countTables(bigrams)
    counts
      .join(broadcast(ctx), Seq("w1"))
      .join(broadcast(cont), Seq("w2"))
      .select(
        col("w1"),
        col("w2"),
        log(
          (greatest(col("c") - lit(Discount), lit(0.0))
            + lit(Discount) * col("fwd_types") * col("back_types") / lit(nTypes))
            / col("ctx_c")
        ).as("logp")
      )
  }

  /** Persistable LM index — the whole scoring model as ONE tagged
    * frame (parquet-friendly, like [[Dedup.buildBandIndex]]):
    *   kind='big'  (w1, w2, v=logp)        seen-bigram log-probs
    *   kind='ctx'  (w1, v=λ(w1))           backoff weight per context
    *   kind='cont' (w2, v=Pcont(w2))       continuation probability
    *   kind='meta' (v=1/(V+1))             uniform floor for unknown words
    * A 100 TB pipeline builds this once per corpus snapshot and
    * screens every incoming crawl against it without touching corpus
    * text again.
    */
  def buildLmIndex(bigrams: DataFrame): DataFrame = {
    val (counts, ctx, cont, nTypes) = countTables(bigrams)
    val vocab = cont.count()
    val nullW = lit(null).cast("string")
    val big = counts
      .join(broadcast(ctx), Seq("w1"))
      .join(broadcast(cont), Seq("w2"))
      .select(
        lit("big").as("kind"),
        col("w1"),
        col("w2"),
        log(
          (greatest(col("c") - lit(Discount), lit(0.0))
            + lit(Discount) * col("fwd_types") * col("back_types") / lit(nTypes))
            / col("ctx_c")
        ).as("v")
      )
    val lam = ctx.select(
      lit("ctx").as("kind"),
      col("w1"),
      nullW.as("w2"),
      (lit(Discount) * col("fwd_types") / col("ctx_c")).as("v")
    )
    val pc = cont.select(
      lit("cont").as("kind"),
      nullW.as("w1"),
      col("w2"),
      (col("back_types") / lit(nTypes)).as("v")
    )
    val meta = bigrams.sparkSession
      .range(1)
      .select(lit("meta").as("kind"), nullW.as("w1"), nullW.as("w2"), lit(1.0 / (vocab + 1)).as("v"))
    big.unionByName(lam).unionByName(pc).unionByName(meta)
  }

  /** The KN backoff chain over a [[buildLmIndex]], per bigram
    * occurrence — the one copy both screens apply (batch
    * [[screenPerplexity]] and the streaming
    * [[graft.streaming.StreamingIngest.screenPerplexityStream]]):
    * seen bigram → λ(w1)·Pcont(w2) → Pcont(w2) → uniform floor.
    * Adds `logp_hit` (NULL iff the corpus never saw the bigram) and
    * `logp` to the (…, w1, w2) rows. The big table joins
    * (w1, w2)-keyed; λ/Pcont are vocabulary-sized broadcasts; the
    * floor is one collected double.
    */
  private[graft] def backoffLogProbs(bigrams: DataFrame, index: DataFrame): DataFrame = {
    val big = index.filter(col("kind") === "big").select(col("w1"), col("w2"), col("v").as("logp_hit"))
    val lam = index.filter(col("kind") === "ctx").select(col("w1"), col("v").as("lam"))
    val pc = index.filter(col("kind") === "cont").select(col("w2"), col("v").as("pcont"))
    val floorP = index.filter(col("kind") === "meta").select(col("v")).head().getDouble(0)
    bigrams
      .join(big, Seq("w1", "w2"), "left")
      .join(broadcast(lam), Seq("w1"), "left")
      .join(broadcast(pc), Seq("w2"), "left")
      .withColumn(
        "logp",
        when(col("logp_hit").isNotNull, col("logp_hit"))
          .when(col("lam").isNotNull && col("pcont").isNotNull, log(col("lam") * col("pcont")))
          .when(col("pcont").isNotNull, log(col("pcont")))
          .otherwise(log(lit(floorP)))
      )
  }

  /** Score an incoming batch against a prebuilt [[buildLmIndex]] —
    * the CCNet deployment shape (pretrained LM, new crawl), with the
    * full [[backoffLogProbs]] chain for material the corpus never saw.
    * Output: (idCol, n_bigrams, n_unseen, ppl).
    *
    * Scale: the batch side of the (w1, w2) join is small (AQE
    * broadcasts it); the index never rebuilds between batches.
    */
  def screenPerplexity(batchBigrams: DataFrame, index: DataFrame, idCol: String): DataFrame =
    backoffLogProbs(batchBigrams, index)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("logp_hit").isNull, 1L).otherwise(0L)).as("n_unseen"),
        round(exp(-avg(col("logp"))), 4).as("ppl")
      )

  /** Per-doc perplexity over the model: exp(-mean logp), rounded to 4
    * decimals for cross-engine float parity (the rounding also makes
    * the downstream tercile thresholds engine-exact: both engines
    * compute them over identical rounded inputs).
    */
  def perplexity(bigrams: DataFrame, model: DataFrame, idCol: String): DataFrame =
    bigrams
      .join(model, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(exp(-avg(col("logp"))), 4).as("ppl")
      )
}
