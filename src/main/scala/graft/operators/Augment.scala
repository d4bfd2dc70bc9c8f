package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic text augmentation — the SFT/contrastive-training data
  * multipliers, with every random choice replaced by the engine's
  * replayable md5-prefix hash so augmented corpora are REPRODUCIBLE:
  * the same (doc, seed) always yields the same augmentation, across
  * runs, partitionings, and engines — which is what makes augmented
  * training sets auditable and their dedup/decontamination screens
  * meaningful (a nondeterministic augmenter mints unscreenable fresh
  * text every epoch).
  */
object Augment {

  /** Word dropout: token `i` (1-based) of document `id` drops iff
    * hash32("aug:id:i:token") mod 10 = 0 ([[DropoutSeed]],
    * [[DropoutRate]]) — an expected tenth of tokens, chosen independently
    * per position, stable under any partitioning. Output: (id, n_tok,
    * n_dropped, text_aug).
    *
    * Scale shape: MAP-ONLY — one tokenize, one compiled
    * [[org.apache.spark.sql.graft.WordDropoutKeep]] hash pass, one
    * re-join per row; nothing shuffles. (The declarative HOF
    * formulation is retained below as the spec reference — it measured
    * ~3.9× slower at stress ×64.)
    */
  def wordDropout(df: DataFrame, id: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.graft.PatternFunctions
    val toks = graft.functions.TextFunctions.tokensWs(text)
    df.select(id.cast("long").as("id"), toks.as("__toks"))
      .select(col("id"), size(col("__toks")).as("n_tok"),
        PatternFunctions.wordDropoutKeep(col("__toks"), col("id"),
          DropoutSeed, DropoutRate).as("__kept"))
      .select(col("id"), col("n_tok"),
        (col("n_tok") - size(col("__kept"))).as("n_dropped"),
        array_join(col("__kept"), " ").as("text_aug"))
  }

  /** T5-style span corruption (Raffel et al. 2020): mask hash-decided
    * contiguous token spans, replace each masked run with an
    * `<extra_id_k>` sentinel in the input, and emit the target as each
    * sentinel followed by the tokens it hides, closed with the final
    * sentinel — the denoising-objective pair, reproducible everywhere
    * (same [[wordDropout]] stance: a nondeterministic corruptor mints
    * unscreenable fresh text every epoch). A position starts a mask iff
    * hash32("t5:id:pos") mod 10 = 0; every position within 3 after a
    * start is masked ([[SpanSeed]], [[SpanRate]], [[SpanLen]]: about 27%
    * of positions masked); overlapping starts merge
    * (stateless — which is what makes the rule SQL-replayable).
    * Start decisions hash the position only, so corruption pattern and
    * content are independent, as the objective intends.
    *
    * Output: (id, n_tok, n_masked, n_spans, input_text, target_text).
    *
    * Scale shape: MAP-ONLY — one tokenize + one compiled
    * [[org.apache.spark.sql.graft.SpanCorrupt]] pass; nothing shuffles.
    */
  def spanCorruption(df: DataFrame, id: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.graft.PatternFunctions
    val toks = graft.functions.TextFunctions.tokensWs(text)
    df.select(id.cast("long").as("id"), toks.as("__toks"))
      .select(col("id"), size(col("__toks")).as("n_tok"),
        PatternFunctions.spanCorrupt(col("__toks"), col("id"), SpanSeed,
          SpanRate, SpanLen).as("__c"))
      .select(col("id"), col("n_tok"),
        col("__c.n_masked").as("n_masked"),
        col("__c.n_spans").as("n_spans"),
        col("__c.input").as("input_text"),
        col("__c.target").as("target_text"))
  }

  /** The hash salts, rates and span length of the two augmenters: the
    * values the word_dropout and span_corruption oracles replay. */
  private[operators] val DropoutSeed = "aug"
  private[operators] val DropoutRate = 10
  private val SpanSeed = "t5"
  private val SpanRate = 10
  private val SpanLen = 3

  /** The declarative formulation [[wordDropout]]'s native expression
    * replaced — retained as the SPEC REFERENCE (AugmentSpec asserts
    * bit-equality on random inputs; the interpreted HOF measured ~18×
    * slower at stress ×16).
    */
  private[operators] def wordDropoutHof(df: DataFrame, id: Column,
      text: Column, rate: Int, seed: String): DataFrame = {
    val toks = graft.functions.TextFunctions.tokensWs(text)
    def keepPred(x: Column, i: Column): Column =
      conv(substring(md5(concat_ws(":", lit(seed), col("id"),
        (i + 1).cast("string"), x)), 1, 8), 16, 10).cast("long") % rate =!= 0L
    df.select(id.cast("long").as("id"), toks.as("__toks"))
      .select(col("id"), size(col("__toks")).as("n_tok"),
        filter(col("__toks"), (x, i) => keepPred(x, i)).as("__kept"))
      .select(col("id"), col("n_tok"),
        (col("n_tok") - size(col("__kept"))).as("n_dropped"),
        array_join(col("__kept"), " ").as("text_aug"))
  }
}
