package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus n-gram/vocabulary/LM stats, canonical dedup, overlap, lang id, image near-dup, skew — one slice of the [[Pipeline]] registry (the
  * monolithic Pipeline.scala split per-family in round 16, zero
  * behavior change; `Pipeline.all` still assembles every entry).
  */
trait PipelineTextStatsFam extends PipelineMixtureSketchFam {
  // ----------------------------------------------- corpus duplicate n-grams

  /** Unicode NFC normalization over the corpus, with a planted decomposed
    * accent so the oracle actually exercises composition (the synthetic
    * corpus is ASCII, where NFC is the identity).
    */
  def textNormalizeQ(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(col("doc_id"),
        md5(org.apache.spark.sql.graft.TextStats.nfcNormalize(
          concat(col("text"), lit(" caf"), lit("e\u0301")))).as("norm_md5"))
      .orderBy(col("doc_id"))

  val textNormalizeOracle: String =
    """SELECT doc_id,
      |  md5(nfc_normalize(text || ' caf' || chr(101) || chr(769))) AS norm_md5
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Corpus-duplicated 5-gram profile per document (Lee et al. 2022 shape):
    * integer counts + exact-ratio double, over the full documents table.
    */
  def dupNgramProfileQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.duplicateNgramProfile(
        T(s, dir, "documents"), col("doc_id"), col("text"), n = 5, minDf = 2)
      .select(col("id").as("doc_id"), col("total_ngrams"), col("dup_ngrams"),
        col("dup_ratio"))
      .orderBy(col("doc_id"))

  val dupNgramProfileOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 3),
      |                i -> array_to_string(toks[i:i+4], ' ')) END AS grams
      |  FROM t),
      |posting AS (SELECT doc_id, unnest(grams) AS gram FROM g),
      |dfs AS (SELECT gram AS gv, COUNT(DISTINCT doc_id) AS df
      |        FROM posting GROUP BY gram)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS total_ngrams,
      |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_ngrams,
      |  CASE WHEN COUNT(*) > 0
      |       THEN SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE
      |       ELSE 0.0 END AS dup_ratio
      |FROM posting JOIN dfs ON posting.gram = dfs.gv
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Corpus-duplicated 5-gram REMOVAL: tokens covered by any cross-document
    * duplicated 5-gram are dropped and the survivors rejoined. md5 keeps
    * the rebuilt text compact in the compare, as in [[segmentDedupQ]].
    */
  def dedupNgramMaskQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.duplicateNgramMask(
        T(s, dir, "documents"), col("doc_id"), col("text"), n = 5, minDf = 2)
      .select(col("id").as("doc_id"), col("n_tok"), col("n_removed"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy(col("doc_id"))

  val dedupNgramMaskOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, toks,
      |    CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 3),
      |                i -> array_to_string(toks[i:i+4], ' ')) END AS grams
      |  FROM t),
      |gp AS (SELECT doc_id, unnest(grams) AS gram,
      |         unnest(range(0, len(grams))) AS pos FROM g),
      |dfs AS (SELECT gram AS gv, COUNT(DISTINCT doc_id) AS df
      |        FROM gp GROUP BY gram),
      |dpos AS (SELECT gp.doc_id, list_sort(list(gp.pos)) AS dps
      |         FROM gp JOIN dfs ON gp.gram = dfs.gv
      |         WHERE dfs.df >= 2 GROUP BY gp.doc_id),
      |m AS (SELECT g.doc_id, g.toks, COALESCE(d.dps, CAST([] AS BIGINT[])) AS dps
      |      FROM g LEFT JOIN dpos d ON g.doc_id = d.doc_id)
      |SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tok,
      |  CAST(len(toks) - len(list_filter(toks, (x, i) ->
      |    len(list_filter(dps, s -> s <= i - 1 AND s + 4 >= i - 1)) = 0)) AS INTEGER) AS n_removed,
      |  md5(COALESCE(array_to_string(list_filter(toks, (x, i) ->
      |    len(list_filter(dps, s -> s <= i - 1 AND s + 4 >= i - 1)) = 0), ' '), '')) AS clean_md5
      |FROM m
      |ORDER BY doc_id""".stripMargin

  /** Exact-substring dedup at 50-token-span granularity
    * ([[graft.operators.TextIndex.exactSubstrDedup]] — ExactSubstr, Lee
    * et al. 2022): every corpus-duplicated 50-token span keeps only its
    * globally first (doc_id, pos) occurrence; all other occurrences'
    * tokens are removed. The synthetic corpus carries ~280 duplicated
    * 50-spans (589 occurrences) at the driver SFs without whole-doc
    * duplicates, so the keep-first surgery is value-checked non-trivially.
    * The oracle replays the positional 50-grams as STRINGS (the engine
    * keys on 60-bit fps — the accepted fp-collision stance), the
    * first-occurrence rank, and the coverage mask; md5 keeps the rebuilt
    * text compact in the compare, as in [[dedupNgramMaskQ]].
    */
  def dedupExactSubstrQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.exactSubstrDedup(
        T(s, dir, "documents"), col("doc_id"), col("text"), n = 50)
      .select(col("id").as("doc_id"), col("n_tok"), col("n_removed"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy(col("doc_id"))

  val dedupExactSubstrOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, toks,
      |    CASE WHEN len(toks) >= 50
      |         THEN list_transform(range(1, len(toks) - 48),
      |                i -> array_to_string(toks[i:i+49], ' '))
      |         ELSE CAST([] AS VARCHAR[]) END AS grams
      |  FROM t),
      |o AS (SELECT doc_id, unnest(grams) AS gram,
      |        unnest(range(0, len(grams))) AS pos FROM g),
      |r AS (
      |  SELECT doc_id, pos,
      |    ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
      |  FROM o),
      |dpos AS (SELECT doc_id, list_sort(list(pos)) AS dps
      |         FROM r WHERE rn > 1 GROUP BY doc_id),
      |m AS (SELECT g.doc_id, g.toks, COALESCE(d.dps, CAST([] AS BIGINT[])) AS dps
      |      FROM g LEFT JOIN dpos d ON g.doc_id = d.doc_id)
      |SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tok,
      |  CAST(len(toks) - len(list_filter(toks, (x, i) ->
      |    len(list_filter(dps, s -> s <= i - 1 AND s + 49 >= i - 1)) = 0)) AS INTEGER) AS n_removed,
      |  md5(COALESCE(array_to_string(list_filter(toks, (x, i) ->
      |    len(list_filter(dps, s -> s <= i - 1 AND s + 49 >= i - 1)) = 0), ' '), '')) AS clean_md5
      |FROM m
      |ORDER BY doc_id""".stripMargin

  /** Cross-split exact 13-gram contamination screen
    * ([[graft.operators.TextIndex.crossSubstrContamination]] — the GPT-3
    * overlap filter): the corpus split train (doc_id % 7 != 0) vs eval
    * (doc_id % 7 = 0); every train doc reports how many of its 13-token
    * spans occur verbatim in the eval side. The synthetic corpus's
    * duplicated-span classes cross the mod-7 boundary, so flagged docs
    * exist at the driver SFs and the count column is value-checked
    * non-trivially. The oracle replays positional 13-grams as STRINGS
    * (the engine keys on 60-bit fps — the accepted collision stance).
    */
  def deconExactSubstrQ(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    graft.operators.TextIndex.crossSubstrContamination(
        d.filter(col("doc_id") % 7 =!= 0), col("doc_id"), col("text"),
        d.filter(col("doc_id") % 7 === 0), col("text"), n = 13)
      .select(col("id").as("doc_id"), col("n_spans"), col("n_contam"),
        col("contaminated"))
      .orderBy(col("doc_id"))
  }

  val deconExactSubstrOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS toks
      |  FROM documents),
      |tg AS (
      |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 13
      |      THEN list_transform(range(1, len(toks) - 11),
      |             i -> array_to_string(toks[i:i+12], ' '))
      |      ELSE CAST([] AS VARCHAR[]) END) AS gram
      |  FROM t WHERE doc_id % 7 <> 0),
      |eg AS (
      |  SELECT DISTINCT unnest(CASE WHEN len(toks) >= 13
      |      THEN list_transform(range(1, len(toks) - 11),
      |             i -> array_to_string(toks[i:i+12], ' '))
      |      ELSE CAST([] AS VARCHAR[]) END) AS gram
      |  FROM t WHERE doc_id % 7 = 0),
      |hits AS (
      |  SELECT doc_id, COUNT(*) AS n_contam
      |  FROM tg JOIN eg USING (gram) GROUP BY 1)
      |SELECT t.doc_id,
      |  CAST(greatest(len(toks) - 12, 0) AS BIGINT) AS n_spans,
      |  CAST(COALESCE(h.n_contam, 0) AS BIGINT) AS n_contam,
      |  COALESCE(h.n_contam, 0) > 0 AS contaminated
      |FROM t LEFT JOIN hits h ON t.doc_id = h.doc_id
      |WHERE t.doc_id % 7 <> 0
      |ORDER BY t.doc_id""".stripMargin

  // ------------------------------------------------------- vocabulary coverage

  /** Perplexity-proxy LM screen
    * ([[graft.operators.TextIndex.lmPerplexityScreen]]): per-doc
    * bits-per-token under the corpus's own bigram model with leave-one-out
    * counts and one-bit unigram backoff — every log2 the exact integer
    * ⌊log2⌋ via `length(bin(x)) − 1`, so the oracle replays the whole
    * model bit-for-bit with no libm ln.
    */
  def lmPerplexityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.lmPerplexityScreen(
        T(s, dir, "documents"), col("doc_id"), col("text"),
        // ~75th-pct of the synthetic corpus (band 4.35-5.09) so the flag
        // actually discriminates at the gate; real corpora use the
        // 12-bit library default
        thresholdBits = 4.7)
      .select(col("id").as("doc_id"), col("n_scored"), col("total_bits"),
        col("bits_per_token"), col("keep"))
      .orderBy(col("doc_id"))

  val lmPerplexityOracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS t
      |  FROM documents),
      |uni AS (SELECT unnest(t) AS w FROM toks),
      |c1 AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM uni),
      |pos AS (
      |  SELECT doc_id, t[i] AS wp, t[i+1] AS wc, t[i] || ' ' || t[i+1] AS g2
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
      |        FROM toks WHERE len(t) >= 2)),
      |c2 AS (SELECT g2 AS k2, COUNT(*) AS c FROM pos GROUP BY g2),
      |bits AS (
      |  SELECT doc_id,
      |    CASE WHEN c2.c >= 2
      |      THEN (length(bin(p1.c)) - 1) - (length(bin(c2.c - 1)) - 1)
      |      ELSE 1 + (length(bin(tot.n_total)) - 1) - (length(bin(p2.c)) - 1)
      |    END AS b
      |  FROM pos
      |  JOIN c2 ON pos.g2 = c2.k2
      |  JOIN c1 p1 ON pos.wp = p1.w
      |  JOIN c1 p2 ON pos.wc = p2.w
      |  CROSS JOIN tot),
      |sc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
      |    CAST(SUM(b) AS BIGINT) AS total_bits
      |  FROM bits GROUP BY doc_id)
      |SELECT t.doc_id,
      |  COALESCE(sc.n_scored, 0) AS n_scored,
      |  COALESCE(sc.total_bits, 0) AS total_bits,
      |  CASE WHEN COALESCE(sc.n_scored, 0) = 0 THEN 0.0
      |       ELSE CAST(sc.total_bits AS DOUBLE) / CAST(sc.n_scored AS DOUBLE)
      |  END AS bits_per_token,
      |  (CASE WHEN COALESCE(sc.n_scored, 0) = 0 THEN 0.0
      |        ELSE CAST(sc.total_bits AS DOUBLE) / CAST(sc.n_scored AS DOUBLE)
      |   END) <= 4.7 AS keep
      |FROM toks t LEFT JOIN sc ON t.doc_id = sc.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Frozen-LM cross-corpus screen — the actual CCNet deployment shape
    * run end-to-end: the reference model is [[graft.operators.TextIndex
    * .bigramLmCounts]] over the even-id slice, maintained in TWO batch
    * folds ([[graft.operators.TextIndex.foldLmCounts]], fold ≡ rebuild —
    * LmModelSpec's law, exercised here under the hash gate), PERSISTED as
    * the frozen parquet artifact, RELOADED cold, and the odd-id slice is
    * screened against it with `selfCounts = false` — counts are external
    * evidence (no leave-one-out), an unseen bigram backs off, an OOV
    * token floors at the 1 + ⌊log2 N⌋ maximum. The oracle rebuilds the
    * model clean over the even slice and replays the frozen-branch
    * arithmetic, so the gate is green only if the fold, the artifact
    * round-trip, AND the frozen scoring are all exact.
    *
    * Scale shape: the model is a vocabulary-sized stored table — scoring
    * a new corpus is three key-joins of the (id + three 8-byte fps)
    * position stream against its partitions; the training corpus is
    * never re-read at serve time.
    */
  def lmCrossScreenQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextIndex
    val docs = T(s, dir, "documents")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val model = TextIndex.foldLmCounts(
      TextIndex.bigramLmCounts(ref.filter(col("doc_id") % 4 === 0),
        col("text")),
      TextIndex.bigramLmCounts(ref.filter(col("doc_id") % 4 === 2),
        col("text")))
    val path = Engine.scratchPath("graft-lm-model", dir)
    model.write.mode("overwrite").parquet(path)
    val frozen = s.read.parquet(path)
    TextIndex.lmScoreAgainst(
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"),
        frozen,
        // between the p50/p75 cross-corpus band at both driver SFs
        // (4.58-4.68) so the flag discriminates; real corpora use the
        // 12-bit library default
        thresholdBits = 4.65, selfCounts = false)
      .select(col("id").as("doc_id"), col("n_scored"), col("total_bits"),
        col("bits_per_token"), col("keep"))
      .orderBy(col("doc_id"))
  }

  val lmCrossScreenOracle: String =
    """WITH tr AS (
      |  SELECT CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS t
      |  FROM documents WHERE doc_id % 2 = 0),
      |uni AS (SELECT unnest(t) AS w FROM tr),
      |c1 AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM uni),
      |trpos AS (
      |  SELECT t[i] || ' ' || t[i+1] AS g2
      |  FROM (SELECT t, unnest(range(1, len(t))) AS i
      |        FROM tr WHERE len(t) >= 2)),
      |c2 AS (SELECT g2 AS k2, COUNT(*) AS c FROM trpos GROUP BY g2),
      |sd AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS t
      |  FROM documents WHERE doc_id % 2 = 1),
      |pos AS (
      |  SELECT doc_id, t[i] AS wp, t[i+1] AS wc, t[i] || ' ' || t[i+1] AS g2
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
      |        FROM sd WHERE len(t) >= 2)),
      |bits AS (
      |  SELECT pos.doc_id,
      |    CASE WHEN c2.c IS NOT NULL
      |      THEN (length(bin(p1.c)) - 1) - (length(bin(c2.c)) - 1)
      |      ELSE 1 + (length(bin(tot.n_total)) - 1)
      |             - (length(bin(COALESCE(p2.c, 1))) - 1)
      |    END AS b
      |  FROM pos
      |  LEFT JOIN c2 ON pos.g2 = c2.k2
      |  LEFT JOIN c1 p1 ON pos.wp = p1.w
      |  LEFT JOIN c1 p2 ON pos.wc = p2.w
      |  CROSS JOIN tot),
      |sc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
      |    CAST(SUM(b) AS BIGINT) AS total_bits
      |  FROM bits GROUP BY doc_id)
      |SELECT s.doc_id,
      |  COALESCE(sc.n_scored, 0) AS n_scored,
      |  COALESCE(sc.total_bits, 0) AS total_bits,
      |  CASE WHEN COALESCE(sc.n_scored, 0) = 0 THEN 0.0
      |       ELSE CAST(sc.total_bits AS DOUBLE) / CAST(sc.n_scored AS DOUBLE)
      |  END AS bits_per_token,
      |  (CASE WHEN COALESCE(sc.n_scored, 0) = 0 THEN 0.0
      |        ELSE CAST(sc.total_bits AS DOUBLE) / CAST(sc.n_scored AS DOUBLE)
      |   END) <= 4.65 AS keep
      |FROM sd s LEFT JOIN sc ON s.doc_id = sc.doc_id
      |ORDER BY s.doc_id""".stripMargin

  /** Keyword tagging ([[graft.operators.TextIndex.keywordTag]]): one
    * native Aho–Corasick pass over every document against a fixed phrase
    * list; the oracle replays each pattern's overlapping occurrence
    * count positionally (substring-per-start-position — O(len·K) there,
    * O(len) here, same counts).
    */
  private[queries] val keywordTagPatterns = Seq(
    "hash join", "scan fast", "merge", "vector", "table table",
    "slow query", "batch window", "never-in-corpus")

  def keywordTagQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.keywordTag(
        T(s, dir, "documents"), col("doc_id"), col("text"),
        keywordTagPatterns)
      .select(col("id").as("doc_id"), col("pattern"), col("n_hits"))
      .orderBy(col("doc_id"), col("pattern"))

  val keywordTagOracle: String = {
    val vals = keywordTagPatterns.map(p => s"('$p')").mkString(", ")
    s"""WITH pats AS (SELECT * FROM (VALUES $vals) p(pattern)),
       |hits AS (
       |  SELECT d.doc_id, p.pattern,
       |    len(list_filter(range(1, len(d.text) - len(p.pattern) + 2),
       |        i -> substring(d.text, i, len(p.pattern)) = p.pattern))
       |      AS n_hits
       |  FROM documents d CROSS JOIN pats p)
       |SELECT doc_id, pattern, CAST(n_hits AS BIGINT) AS n_hits
       |FROM hits WHERE n_hits > 0
       |ORDER BY doc_id, pattern""".stripMargin
  }

  /** k-anonymous composition release
    * ([[graft.operators.Diagnostics.kAnonymousRelease]]): the
    * (source, lang) breakdown published only where a cell holds ≥ 5
    * docs; smaller cells generalize to the '*' aggregate. The oracle
    * replays the count, the generalization CASE, and the k floor on the
    * released rows.
    */
  def kanonReleaseQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diagnostics.kAnonymousRelease(
        T(s, dir, "documents"), Seq(col("source"), col("lang")), k = 5)
      .select(col("k0").as("source"), col("k1").as("lang"), col("n"))
      .orderBy(col("source"), col("lang"))

  val kanonReleaseOracle: String =
    """WITH c AS (
      |  SELECT CAST(source AS VARCHAR) AS source,
      |    CAST(lang AS VARCHAR) AS lang,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1, 2),
      |g AS (
      |  SELECT CASE WHEN n >= 5 THEN source ELSE '*' END AS source,
      |    CASE WHEN n >= 5 THEN lang ELSE '*' END AS lang, n
      |  FROM c)
      |SELECT source, lang, CAST(SUM(n) AS BIGINT) AS n
      |FROM g GROUP BY 1, 2 HAVING SUM(n) >= 5
      |ORDER BY source, lang""".stripMargin

  /** Windowed co-occurrence counts
    * ([[graft.operators.TextIndex.cooccurrenceCounts]]): the GloVe-style
    * count matrix, window 3, top-200 pairs. The oracle replays each
    * offset's positional pairing, the canonical ordering, and the
    * (n desc, a, b) cut.
    */
  def cooccurrenceQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.cooccurrenceCounts(
        T(s, dir, "documents"), col("text"), window = 3, k = 200)
      .orderBy(col("n").desc, col("term_a"), col("term_b"))

  val cooccurrenceOracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS t
      |  FROM documents),
      |offs AS (SELECT unnest(range(1, 4)) AS off),
      |pos AS (
      |  SELECT t, off, unnest(range(1, len(t) - off + 1)) AS i
      |  FROM toks CROSS JOIN offs WHERE len(t) > off),
      |p AS (
      |  SELECT CASE WHEN t[i] <= t[i + off] THEN t[i] ELSE t[i + off] END
      |      AS term_a,
      |    CASE WHEN t[i] <= t[i + off] THEN t[i + off] ELSE t[i] END
      |      AS term_b
      |  FROM pos)
      |SELECT term_a, term_b, CAST(COUNT(*) AS BIGINT) AS n
      |FROM p GROUP BY 1, 2
      |ORDER BY n DESC, term_a, term_b
      |LIMIT 200""".stripMargin

  /** Deterministic word dropout ([[graft.operators.Augment.wordDropout]]):
    * hash-decided 1/10 token dropout, reproducible across engines. The
    * oracle replays the per-position md5 decision and the re-join.
    */
  def augmentDropoutQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Augment.wordDropout(
        T(s, dir, "documents"), col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("n_tok"), col("n_dropped"),
        md5(col("text_aug")).as("aug_md5"))
      .orderBy(col("doc_id"))

  val augmentDropoutOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS toks
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, len(toks) AS n_tok,
      |    list_filter(toks, (x, i) ->
      |      CAST(('0x' || substring(md5('aug:' || CAST(doc_id AS VARCHAR)
      |        || ':' || CAST(i AS VARCHAR) || ':' || x), 1, 8)) AS BIGINT)
      |        % 10 <> 0) AS kept
      |  FROM t)
      |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
      |  CAST(n_tok - len(kept) AS BIGINT) AS n_dropped,
      |  md5(COALESCE(array_to_string(kept, ' '), '')) AS aug_md5
      |FROM k
      |ORDER BY doc_id""".stripMargin

  /** ROUGE-2 over adjacent-doc pairs
    * ([[graft.operators.TextIndex.rougeN]]): clipped bigram overlap,
    * recall/precision/F1. The oracle replays the positional bigrams,
    * the per-gram clipped min, and the ratio guards.
    */
  def rougeOverlapQ(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val pairs = d.toDF("a_id", "a_text")
      .withColumn("b_id", col("a_id") + 1)
      .join(d.toDF("b_id", "b_text"), "b_id")
      .select(col("a_id").as("pair_id"), col("a_text"), col("b_text"))
    graft.operators.TextIndex.rougeN(pairs, col("pair_id"),
        col("a_text"), col("b_text"), n = 2)
      .orderBy(col("pair_id"))
  }

  val rougeOverlapOracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS t
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS pair_id, a.t AS rt, b.t AS ct
      |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1),
      |rg AS (
      |  SELECT pair_id, g, COUNT(*) AS cnt FROM (
      |    SELECT pair_id, unnest(list_transform(range(1, len(rt)),
      |      i -> rt[i] || ' ' || rt[i+1])) AS g
      |    FROM p WHERE len(rt) >= 2)
      |  GROUP BY 1, 2),
      |cg AS (
      |  SELECT pair_id, g, COUNT(*) AS cnt FROM (
      |    SELECT pair_id, unnest(list_transform(range(1, len(ct)),
      |      i -> ct[i] || ' ' || ct[i+1])) AS g
      |    FROM p WHERE len(ct) >= 2)
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT rg.pair_id,
      |    CAST(SUM(LEAST(rg.cnt, cg.cnt)) AS BIGINT) AS n_match
      |  FROM rg JOIN cg ON rg.pair_id = cg.pair_id AND rg.g = cg.g
      |  GROUP BY 1),
      |rt AS (SELECT pair_id, CAST(SUM(cnt) AS BIGINT) AS n_ref
      |       FROM rg GROUP BY 1),
      |ctt AS (SELECT pair_id, CAST(SUM(cnt) AS BIGINT) AS n_cand
      |        FROM cg GROUP BY 1)
      |SELECT p.pair_id,
      |  COALESCE(rt.n_ref, 0) AS n_ref,
      |  COALESCE(ctt.n_cand, 0) AS n_cand,
      |  COALESCE(m.n_match, 0) AS n_match,
      |  CASE WHEN COALESCE(rt.n_ref, 0) = 0 THEN NULL
      |       ELSE CAST(COALESCE(m.n_match, 0) AS DOUBLE)
      |         / CAST(rt.n_ref AS DOUBLE) END AS recall,
      |  CASE WHEN COALESCE(ctt.n_cand, 0) = 0 THEN NULL
      |       ELSE CAST(COALESCE(m.n_match, 0) AS DOUBLE)
      |         / CAST(ctt.n_cand AS DOUBLE) END AS precision,
      |  CASE WHEN COALESCE(rt.n_ref, 0) = 0 OR COALESCE(ctt.n_cand, 0) = 0
      |       THEN NULL
      |       ELSE 2.0 * CAST(COALESCE(m.n_match, 0) AS DOUBLE)
      |         / CAST(rt.n_ref + ctt.n_cand AS DOUBLE) END AS f1
      |FROM p
      |LEFT JOIN rt ON rt.pair_id = p.pair_id
      |LEFT JOIN ctt ON ctt.pair_id = p.pair_id
      |LEFT JOIN m ON m.pair_id = p.pair_id
      |ORDER BY p.pair_id""".stripMargin

  /** T5 span corruption ([[graft.operators.Augment.spanCorruption]]):
    * hash-decided mask spans, sentinel inputs/targets. The oracle replays
    * the positional start hash, the trailing-window mask, the run
    * detection, the sentinel numbering, and both text assemblies.
    */
  def spanCorruptionQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Augment.spanCorruption(
        T(s, dir, "documents"), col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("n_tok"), col("n_masked"),
        col("n_spans"), md5(col("input_text")).as("input_md5"),
        md5(col("target_text")).as("target_md5"))
      .orderBy(col("doc_id"))

  val spanCorruptionOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, toks, len(toks) AS n,
      |    list_transform(range(1, len(toks) + 1), p ->
      |      CAST(('0x' || substring(md5('t5:' || CAST(doc_id AS VARCHAR)
      |        || ':' || CAST(p AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0)
      |      AS starts
      |  FROM t),
      |m AS (
      |  SELECT doc_id, toks, n,
      |    list_transform(range(1, n + 1), p ->
      |      len(list_filter(range(greatest(1, p - 2), p + 1),
      |        s -> starts[s])) > 0) AS msk
      |  FROM c),
      |r AS (
      |  SELECT doc_id, toks, n, msk,
      |    list_transform(range(1, n + 1), p ->
      |      msk[p] AND (p = 1 OR NOT msk[p - 1])) AS rst
      |  FROM m),
      |k AS (
      |  SELECT doc_id, toks, n, msk, rst,
      |    list_transform(range(1, n + 1), p ->
      |      list_sum(list_transform(range(1, p + 1),
      |        q -> CASE WHEN rst[q] THEN 1 ELSE 0 END)) - 1) AS kidx,
      |    len(list_filter(rst, x -> x)) AS n_spans,
      |    len(list_filter(msk, x -> x)) AS n_masked
      |  FROM r),
      |txt AS (
      |  SELECT doc_id, n, n_masked, n_spans,
      |    -- COALESCE: DuckDB array_to_string([]) is NULL, Spark's is ''
      |    COALESCE(array_to_string(list_filter(list_transform(
      |      range(1, n + 1), p ->
      |      CASE WHEN NOT msk[p] THEN toks[p]
      |           WHEN rst[p] THEN '<extra_id_' || CAST(kidx[p] AS VARCHAR)
      |             || '>'
      |           ELSE NULL END), x -> x IS NOT NULL), ' '), '')
      |      AS input_text,
      |    COALESCE(array_to_string(list_filter(list_transform(
      |      range(1, n + 1), p ->
      |      CASE WHEN rst[p] THEN '<extra_id_' || CAST(kidx[p] AS VARCHAR)
      |             || '> ' || toks[p]
      |           WHEN msk[p] THEN toks[p]
      |           ELSE NULL END), x -> x IS NOT NULL), ' '), '')
      |      AS target_body
      |  FROM k)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tok,
      |  CAST(n_masked AS INTEGER) AS n_masked,
      |  CAST(n_spans AS INTEGER) AS n_spans,
      |  md5(input_text) AS input_md5,
      |  md5(target_body || CASE WHEN target_body = '' THEN '' ELSE ' ' END
      |    || '<extra_id_' || CAST(n_spans AS VARCHAR) || '>') AS target_md5
      |FROM txt
      |ORDER BY doc_id""".stripMargin

  /** Vocabulary-growth curve ([[graft.operators.TextIndex.vocabGrowth]]):
    * Heaps-law readout over ten doc-id-ordered corpus slices. The oracle
    * replays the NTILE cut, the first-seen reduction, and the running
    * vocabulary sum.
    */
  def vocabGrowthQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.vocabGrowth(
        T(s, dir, "documents"), col("doc_id"), col("text"))
      .orderBy(col("bucket"))

  val vocabGrowthOracle: String =
    """WITH d AS (
      |  SELECT CAST(NTILE(10) OVER (ORDER BY doc_id) AS INTEGER) AS bucket,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS t
      |  FROM documents),
      |toks AS (SELECT bucket, unnest(t) AS term FROM d),
      |dp AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
      |       FROM d GROUP BY bucket),
      |tp AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS tokens
      |       FROM toks GROUP BY bucket),
      |ft AS (SELECT term, MIN(bucket) AS bucket FROM toks GROUP BY term),
      |nt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_terms
      |       FROM ft GROUP BY bucket)
      |SELECT dp.bucket, dp.n_docs,
      |  COALESCE(tp.tokens, 0) AS tokens,
      |  COALESCE(nt.new_terms, 0) AS new_terms,
      |  CAST(SUM(COALESCE(nt.new_terms, 0)) OVER (ORDER BY dp.bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_vocab
      |FROM dp LEFT JOIN tp ON dp.bucket = tp.bucket
      |LEFT JOIN nt ON dp.bucket = nt.bucket
      |ORDER BY dp.bucket""".stripMargin

  /** The growth curve's 10⁹-doc plan ([[graft.operators.TextIndex
    * .vocabGrowthSketchCuts]]): id slices from broadcast KLL range cuts —
    * no global sort, not even over ids. At driver SFs the corpus fits
    * the sketch buffer, so the cuts are the exact discrete quantiles and
    * the oracle replays them with quantile_disc (the curriculum_shards
    * convention: DOUBLE-cast, `> cut` counting, boundary to the lower
    * slice).
    */
  def vocabGrowthKllQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.vocabGrowthSketchCuts(
        T(s, dir, "documents"), col("doc_id"), col("text"))
      .orderBy(col("bucket"))

  val vocabGrowthKllOracle: String =
    """WITH ids AS (SELECT doc_id FROM documents),
      |c AS (
      |  SELECT quantile_disc(CAST(doc_id AS DOUBLE),
      |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
      |  FROM ids),
      |d AS (
      |  SELECT CAST(len(list_filter(c.cuts,
      |      x -> CAST(doc_id AS DOUBLE) > x)) + 1 AS INTEGER) AS bucket,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS t
      |  FROM documents CROSS JOIN c),
      |toks AS (SELECT bucket, unnest(t) AS term FROM d),
      |dp AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
      |       FROM d GROUP BY bucket),
      |tp AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS tokens
      |       FROM toks GROUP BY bucket),
      |ft AS (SELECT term, MIN(bucket) AS bucket FROM toks GROUP BY term),
      |nt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_terms
      |       FROM ft GROUP BY bucket)
      |SELECT dp.bucket, dp.n_docs,
      |  COALESCE(tp.tokens, 0) AS tokens,
      |  COALESCE(nt.new_terms, 0) AS new_terms,
      |  CAST(SUM(COALESCE(nt.new_terms, 0)) OVER (ORDER BY dp.bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_vocab
      |FROM dp LEFT JOIN tp ON dp.bucket = tp.bucket
      |LEFT JOIN nt ON dp.bucket = nt.bucket
      |ORDER BY dp.bucket""".stripMargin

  /** Self-BLEU diversity ([[graft.operators.TextIndex.selfBleu]]): each
    * doc's clipped bigram precision against the rest of the corpus. The
    * oracle replays the positional bigrams, the per-gram (m1, c1, m2)
    * leave-one-out-max trick, the clip, and the per-doc ratio.
    */
  def selfBleuQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.selfBleu(
        T(s, dir, "documents"), col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("n_grams"), col("n_clipped"),
        col("self_bleu"))
      .orderBy(col("doc_id"))

  val selfBleuOracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
      |    i -> array_to_string(t[i:i+1], ' '))) AS gram
      |  FROM toks WHERE len(t) >= 2),
      |tf AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM g GROUP BY 1, 2),
      |m1 AS (SELECT gram, MAX(tf) AS m1 FROM tf GROUP BY gram),
      |st AS (
      |  SELECT tf.gram, MAX(m1.m1) AS m1,
      |    SUM(CASE WHEN tf.tf = m1.m1 THEN 1 ELSE 0 END) AS c1,
      |    MAX(CASE WHEN tf.tf < m1.m1 THEN tf.tf END) AS m2
      |  FROM tf JOIN m1 ON tf.gram = m1.gram GROUP BY tf.gram),
      |cl AS (
      |  SELECT tf.doc_id, tf.tf,
      |    LEAST(tf.tf, CASE WHEN tf.tf = st.m1 AND st.c1 = 1
      |      THEN COALESCE(st.m2, 0) ELSE st.m1 END) AS clip
      |  FROM tf JOIN st ON tf.gram = st.gram),
      |pd AS (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_grams,
      |    CAST(SUM(clip) AS BIGINT) AS n_clipped
      |  FROM cl GROUP BY doc_id)
      |SELECT t.doc_id,
      |  COALESCE(pd.n_grams, 0) AS n_grams,
      |  COALESCE(pd.n_clipped, 0) AS n_clipped,
      |  CASE WHEN COALESCE(pd.n_grams, 0) = 0 THEN NULL
      |       ELSE CAST(pd.n_clipped AS DOUBLE) / CAST(pd.n_grams AS DOUBLE)
      |  END AS self_bleu
      |FROM toks t LEFT JOIN pd ON t.doc_id = pd.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Trigram familiarity with 0.4 stupid backoff to the leading bigram —
    * exact-integer counts, fixed-order double score.
    */
  def trigramBackoffQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.backoffFamiliarity(
        T(s, dir, "documents"), col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("n_trigrams"), col("n_tri_common"),
        col("n_backoff"), col("familiarity"))
      .orderBy(col("doc_id"))

  val trigramBackoffOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
      |         ELSE list_transform(range(1, len(t) - 1),
      |                i -> array_to_string(t[i:i+2], ' ')) END AS g3s,
      |    CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
      |         ELSE list_transform(range(1, len(t) - 1),
      |                i -> array_to_string(t[i:i+1], ' ')) END AS g2s
      |  FROM toks),
      |tripos AS (SELECT doc_id, unnest(g3s) AS g3, unnest(g2s) AS g2 FROM g),
      |c3 AS (SELECT g3 AS k3, COUNT(*) AS c FROM tripos GROUP BY g3),
      |allbi AS (
      |  SELECT unnest(CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
      |    ELSE list_transform(range(1, len(t)),
      |           i -> array_to_string(t[i:i+1], ' ')) END) AS g2
      |  FROM toks),
      |c2 AS (SELECT g2 AS k2, COUNT(*) AS c FROM allbi GROUP BY g2),
      |scored AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
      |    CAST(SUM(CASE WHEN c3.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_common,
      |    CAST(SUM(CASE WHEN c3.c < 2 AND c2.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff
      |  FROM tripos JOIN c3 ON tripos.g3 = c3.k3 JOIN c2 ON tripos.g2 = c2.k2
      |  GROUP BY doc_id)
      |SELECT t.doc_id, COALESCE(n_trigrams, 0) AS n_trigrams,
      |  COALESCE(n_tri_common, 0) AS n_tri_common,
      |  COALESCE(n_backoff, 0) AS n_backoff,
      |  CASE WHEN COALESCE(n_trigrams, 0) = 0 THEN 0.0
      |       ELSE (n_tri_common::DOUBLE + 0.4 * n_backoff::DOUBLE) / n_trigrams::DOUBLE
      |  END AS familiarity
      |FROM toks t LEFT JOIN scored ON t.doc_id = scored.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Top-10-vocabulary coverage per document — the common-token quality
    * filter; exact integer-ratio double. (k = 10 because the synthetic
    * corpus draws from ~31 distinct tokens; at real scale k ≈ 10^4–10^5.)
    */
  def vocabCoverageQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.vocabCoverage(
        T(s, dir, "documents"), col("doc_id"), col("text"), k = 10)
      .select(col("id").as("doc_id"), col("n_tok"), col("n_vocab"),
        col("coverage"))
      .orderBy(col("doc_id"))

  val vocabCoverageOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |vocab AS (
      |  SELECT term FROM (SELECT term, COUNT(*) AS c FROM toks GROUP BY term)
      |  ORDER BY c DESC, term LIMIT 10),
      |j AS (
      |  SELECT doc_id,
      |    CASE WHEN term IN (SELECT term FROM vocab) THEN 1 ELSE 0 END AS hit
      |  FROM toks)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
      |  CAST(SUM(hit) AS BIGINT) AS n_vocab,
      |  CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS coverage
      |FROM j
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Bigram-familiarity quality scoring: exact corpus-frequency form of
    * the n-gram-LM filter (see [[graft.operators.TextIndex.bigramFamiliarity]])
    * — integer counts and ratios only, so the oracle replays it exactly.
    */
  def bigramFamiliarityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.bigramFamiliarity(
        T(s, dir, "documents"), col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("n_bigrams"), col("sum_freq"),
        col("n_common"), col("common_frac"))
      .orderBy(col("doc_id"))

  val bigramFamiliarityOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, b[1] AS w1, b[2] AS w2 FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []::VARCHAR[][]
      |      ELSE list_transform(range(1, len(toks)), i -> [toks[i], toks[i+1]])
      |      END) AS b
      |    FROM t) x),
      |c AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      |s AS (
      |  SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(c.c) AS BIGINT) AS sum_freq,
      |    CAST(SUM(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
      |  FROM bg JOIN c ON c.w1 = bg.w1 AND c.w2 = bg.w2
      |  GROUP BY bg.doc_id)
      |SELECT d.doc_id,
      |  COALESCE(s.n_bigrams, 0) AS n_bigrams,
      |  COALESCE(s.sum_freq, 0) AS sum_freq,
      |  COALESCE(s.n_common, 0) AS n_common,
      |  CASE WHEN COALESCE(s.n_bigrams, 0) = 0 THEN 0.0
      |       ELSE CAST(s.n_common AS DOUBLE) / CAST(s.n_bigrams AS DOUBLE) END
      |    AS common_frac
      |FROM (SELECT DISTINCT doc_id FROM documents) d
      |LEFT JOIN s ON s.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------- canonical dedup

  /** Exact dedup over the canonical text form (lowercased, punctuation
    * stripped, whitespace collapsed): catches case/spacing/punctuation
    * variants with exact-dedup cost — the cheap pass that runs BEFORE any
    * near-dup machinery. Same keep-min-id/group-size contract as
    * `dedup_exact`.
    */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.exact(
        T(s, dir, "documents"), col("doc_id"),
        TextFunctions.canonicalize(col("text")))
      .orderBy(col("keep_id"))

  val dedupCanonicalOracle: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS group_size
      |FROM documents
      |GROUP BY trim(regexp_replace(regexp_replace(lower(text),
      |  '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))
      |ORDER BY keep_id""".stripMargin

  // ------------------------------------------------------ source overlap matrix

  /** Cross-source duplication matrix: verified near-dup pairs (>= 0.8
    * Jaccard) rolled up by the source pair they straddle — the curation
    * analytic that says which crawls/feeds duplicate each other and how
    * much, i.e. where dedup budget actually goes. Sources are normalized
    * (src_a <= src_b) so each unordered pair counts once.
    */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = graft.operators.Dedup.minHashPairs(
      docs, col("doc_id"), col("text"),
      shingleK = 3, numHashes = 128, bands = 16, threshold = 0.8)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), Seq("id_b"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val sourceOverlapOracle: String =
    s"""WITH $shingleSetsSql,
       |posting AS (SELECT doc_id, unnest(s) AS sp FROM sets),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |  FROM posting a JOIN posting b ON a.sp = b.sp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM cand
       |  JOIN sets sa ON sa.doc_id = id_a
       |  JOIN sets sb ON sb.doc_id = id_b
       |  WHERE CAST(inter AS DOUBLE) / CAST(len(sa.s) + len(sb.s) - inter AS DOUBLE) >= 0.8)
       |SELECT least(da.source, db.source) AS src_a,
       |  greatest(da.source, db.source) AS src_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM pairs
       |JOIN documents da ON da.doc_id = id_a
       |JOIN documents db ON db.doc_id = id_b
       |GROUP BY 1, 2
       |ORDER BY src_a, src_b""".stripMargin

  /** KMV-sketch overlap matrix over the same corpus — the 100-TB scale path
    * for [[sourceOverlap]]: one aggregation reduces each source to its
    * k = 4096 smallest distinct shingle hashes; all pairwise distinct/
    * union/Jaccard estimates are then sketch-vs-sketch algebra. Every
    * source's distinct-shingle count at sf0.01 sits far below k, so the
    * sketches run their EXACT regime and DuckDB replays the md5-prefix
    * hashes bit-for-bit — a hash gate on the full aggregation + estimator
    * plumbing; the lossy regime (which this same query exercises at sf0.1+
    * in Bench, ~13k shingles per source) is spec-gated with error bounds
    * in DistinctSketchSpec.
    */
  def overlapSketchQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diagnostics.sourceOverlapSketch(
        T(s, dir, "documents"), col("source"), col("text"),
        shingleK = 3, k = 4096)
      .orderBy(col("source_a"), col("source_b"))

  val overlapSketchOracle: String =
    """WITH sh AS (
      |  SELECT source, unnest(
      |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |         ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END
      |  ) AS g
      |  FROM (SELECT source, string_split_regex(trim(text), '\s+') AS t FROM documents)),
      |hs AS (SELECT DISTINCT source,
      |         ('0x' || substring(md5(g), 1, 8))::BIGINT AS h FROM sh),
      |sk AS (SELECT source, list_sort(list(h))[1:4096] AS s FROM hs GROUP BY source),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b, a.s AS sa, b.s AS sb,
      |    list_sort(list_distinct(a.s || b.s))[1:4096] AS l
      |  FROM sk a JOIN sk b ON a.source < b.source)
      |SELECT source_a, source_b,
      |  CASE WHEN len(sa) < 4096 THEN CAST(len(sa) AS DOUBLE)
      |       ELSE 4095 * 4294967296.0 / CAST(sa[4096] AS DOUBLE) END AS d_a,
      |  CASE WHEN len(sb) < 4096 THEN CAST(len(sb) AS DOUBLE)
      |       ELSE 4095 * 4294967296.0 / CAST(sb[4096] AS DOUBLE) END AS d_b,
      |  CASE WHEN len(l) < 4096 THEN CAST(len(l) AS DOUBLE)
      |       ELSE 4095 * 4294967296.0 / CAST(l[4096] AS DOUBLE) END AS d_union,
      |  CAST(len(list_intersect(list_intersect(l, sa), sb)) AS BIGINT) AS common_k,
      |  CAST(len(list_intersect(list_intersect(l, sa), sb)) AS DOUBLE)
      |    / CAST(len(l) AS DOUBLE) AS jaccard,
      |  CAST(len(list_intersect(list_intersect(l, sa), sb)) AS DOUBLE)
      |    / CAST(len(l) AS DOUBLE)
      |    * (CASE WHEN len(l) < 4096 THEN CAST(len(l) AS DOUBLE)
      |            ELSE 4095 * 4294967296.0 / CAST(l[4096] AS DOUBLE) END) AS d_inter
      |FROM pairs
      |ORDER BY source_a, source_b""".stripMargin

  // ----------------------------------------------------------- language id

  /** Heuristic n-gram language ID over the documents corpus: per-language
    * stopword token hits (en/de/es/fr) plus CJK character count (zh),
    * argmax with fixed precedence — a pure map-only function of the text,
    * every piece a codegen'd builtin. On this synthetic corpus the `lang`
    * column is uncorrelated with the text (the words are English-ish for
    * every label), so the oracle gates the SCORING function, not
    * discrimination power — TextStatsSpec proves discrimination on a
    * genuinely multilingual fixture.
    */
  def langIdQ(s: SparkSession, dir: String): DataFrame = {
    // native one-pass scorer (the HOF TextFunctions.langScores form is the
    // executable spec; TextStatsSpec pins native == spec)
    val sc = org.apache.spark.sql.graft.LangScores.langScores(col("text"))
    val hits = Seq("en", "de", "es", "fr", "zh")
      .map(l => col(s"s.$l").as(s"hits_$l"))
    val best = greatest(col("hits_en"), col("hits_de"), col("hits_es"),
      col("hits_fr"), col("hits_zh"))
    T(s, dir, "documents")
      .select(col("doc_id"), sc.as("s"))
      .select(col("doc_id") +: hits: _*)
      .select(col("*"),
        // null-text guard mirrors TextFunctions.langId (and the oracle):
        // without it the all-null when-chain falls through to 'zh'
        when(col("hits_en").isNull, lit(null).cast("string"))
          .when(best === 0, lit("und"))
          .when(col("hits_en") === best, lit("en"))
          .when(col("hits_de") === best, lit("de"))
          .when(col("hits_es") === best, lit("es"))
          .when(col("hits_fr") === best, lit("fr"))
          .otherwise(lit("zh")).as("pred_lang"))
      .orderBy(col("doc_id"))
  }

  val langIdOracle: String = {
    def lst(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(toks, x -> list_contains(${lst(TextFunctions.StopwordsEn)}, x))) AS INTEGER) AS hits_en,
       |    CAST(len(list_filter(toks, x -> list_contains(${lst(TextFunctions.StopwordsDe)}, x))) AS INTEGER) AS hits_de,
       |    CAST(len(list_filter(toks, x -> list_contains(${lst(TextFunctions.StopwordsEs)}, x))) AS INTEGER) AS hits_es,
       |    CAST(len(list_filter(toks, x -> list_contains(${lst(TextFunctions.StopwordsFr)}, x))) AS INTEGER) AS hits_fr,
       |    CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS INTEGER) AS hits_zh
       |  FROM t),
       |p AS (SELECT *, greatest(hits_en, hits_de, hits_es, hits_fr, hits_zh) AS best FROM h)
       |SELECT doc_id, hits_en, hits_de, hits_es, hits_fr, hits_zh,
       |  CASE WHEN hits_en IS NULL THEN NULL
       |       WHEN best = 0 THEN 'und'
       |       WHEN hits_en = best THEN 'en'
       |       WHEN hits_de = best THEN 'de'
       |       WHEN hits_es = best THEN 'es'
       |       WHEN hits_fr = best THEN 'fr'
       |       ELSE 'zh' END AS pred_lang
       |FROM p
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------ image near-dup

  /** Deterministic grayscale test pattern rendered at any resolution and
    * PNG-encoded in-JVM — relative coordinates, so the same `seedShift`
    * draws the same PICTURE at every size. Drives [[mmPhashPairsQ]].
    */
  private[graft] def patternPng(w: Int, h: Int, seedShift: Int,
      noise: Int = 0): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val fx = x * 255 / math.max(w - 1, 1)
        val fy = y * 255 / math.max(h - 1, 1)
        val base = ((fx + seedShift) ^ (fy >> 2)) & 0xff
        val v = if ((x * 8 / w + y * 8 / h) % 2 == 0) base else 255 - base
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val rnd = new scala.util.Random(noise * 7919 + 13)
    var i = 0
    while (i < noise) {
      img.setRGB(rnd.nextInt(w), rnd.nextInt(h), 0x808080)
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The mm fixture corpus: 10 distinct pictures, each with a pixel-noised
    * copy and a 2× rescale. Shared by [[mmPhashPairsQ]] and the
    * [[graft.tools.TrainArtifacts]] run that pins the decoded dHash64
    * values ([[PinnedArtifacts.MmFixtureHashes64]]).
    */
  private[graft] def mmFixtureImages: Seq[(Long, Array[Byte])] =
    (0 until 10).flatMap { i =>
      Seq(
        (i * 3L, patternPng(72, 64, i * 29)),
        (i * 3L + 1, patternPng(72, 64, i * 29, noise = 6)),
        (i * 3L + 2, patternPng(144, 128, i * 29)))
    }

  /** Image near-dup pairs over REAL decoded pixels — dHash + pigeonhole
    * block-key join ([[graft.operators.Multimodal.imageDedupPairs]]),
    * all unordered pairs within Hamming radius 4. NOTE on the fixture's
    * pair structure (visible in the pinned hashes): exact copies and
    * noised copies pair at distance 0; most rescales pair within the
    * radius, but two rescale hashes land at distance 6/8 (absent) and
    * pictures 4 and 5 near-collide at exactly 4 (present) — the entry
    * gates the RADIUS-JOIN SEMANTICS bit-for-bit, while the
    * separation/recall demonstrations live in MultimodalSpec's dedicated
    * fixtures. The Spark side decodes pixels via javax.imageio at query
    * time; the oracle replays the pair semantics (pigeonhole recall is
    * exact, so block keys are an optimization, not a semantic) over the
    * PINNED decode results
    * ([[PinnedArtifacts.MmFixtureHashes64]], regenerated by
    * `graft.tools.TrainArtifacts`; MultimodalSpec pins decode → hash
    * equality per image, so a decode-path change fails the spec before
    * it can silently diverge from the oracle).
    */
  def mmPhashPairsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Multimodal.imageDedupPairs(
        mmFixtureImages.toDF("id", "payload"), col("id"), col("payload"),
        maxHamming = 4)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Pair replay over the pinned hashes: every unordered pair within 4
    * bits. `bit_count`/`xor` are exact integer ops in both engines.
    */
  val mmPhashPairsOracle: String =
    s"""WITH h(id, hash) AS (VALUES
       |${PinnedArtifacts.mmFixtureHashSqlValues}
       |)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.hash, b.hash)) AS INTEGER) AS hamming
       |FROM h a JOIN h b ON a.id < b.id
       |WHERE bit_count(xor(a.hash, b.hash)) <= 4
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------- skew diagnostics

  /** Exact join-key skew report over lineitem's l_suppkey: the 20 heaviest
    * keys, their table share, and the salting factor that equalizes them
    * across 32 reducers — measured before the shuffle, not discovered when
    * it stalls.
    */
  def skewReportQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diagnostics.skewReport(
        T(s, dir, "lineitem"), col("l_suppkey"), topN = 20, partitions = 32)

  val skewReportOracle: String =
    """WITH c AS (
      |  SELECT CAST(l_suppkey AS VARCHAR) AS key, COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT SUM(cnt) AS total FROM c)
      |SELECT key, CAST(cnt AS BIGINT) AS cnt,
      |  CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share,
      |  CAST((cnt * 32 + total - 1) // total AS BIGINT) AS salt_factor
      |FROM c, t
      |ORDER BY cnt DESC, key
      |LIMIT 20""".stripMargin

  /** Pre-flight join-size estimate from counted KMV sketches: customer ⋈
    * orders on custkey, k = 4096 — both sides' distinct custkey counts at
    * sf0.01 sit below k, so the estimate is the EXACT join cardinality
    * and DuckDB replays it bit-for-bit (hash grouping, k-smallest cut,
    * threshold CASEs, and the ×1.0 scale all included); the saturated
    * regime (sf0.1 exercises it in Bench — 15k distinct custkeys) is
    * spec-gated with error bounds in DistinctSketchSpec.
    */
  def joinSizeSketchQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diagnostics.joinSizeEstimate(
      T(s, dir, "customer"), col("c_custkey"),
      T(s, dir, "orders"), col("o_custkey"), k = 4096)

  val joinSizeSketchOracle: String =
    """WITH ha AS (
      |  SELECT ('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT AS h,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM customer GROUP BY 1),
      |hb AS (
      |  SELECT ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT AS h,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM orders GROUP BY 1),
      |sa AS (SELECT h, c FROM ha ORDER BY h LIMIT 4096),
      |sb AS (SELECT h, c FROM hb ORDER BY h LIMIT 4096),
      |st AS (SELECT
      |  (SELECT COUNT(*) FROM sa) AS na, (SELECT COUNT(*) FROM sb) AS nb,
      |  (SELECT max(h) FROM sa) AS ma, (SELECT max(h) FROM sb) AS mb),
      |th AS (SELECT na, nb, ma, mb,
      |  least(CASE WHEN na < 4096 THEN 4294967296 ELSE ma END,
      |        CASE WHEN nb < 4096 THEN 4294967296 ELSE mb END) AS theta
      |  FROM st),
      |j AS (SELECT CAST(COUNT(*) AS BIGINT) AS common_keys,
      |        COALESCE(SUM(sa.c * sb.c), 0) AS raw
      |      FROM sa JOIN sb ON sa.h = sb.h CROSS JOIN th
      |      WHERE sa.h < th.theta)
      |SELECT
      |  CASE WHEN na < 4096 THEN CAST(na AS DOUBLE)
      |       ELSE 4095 * 4294967296.0 / CAST(ma AS DOUBLE) END AS d_a,
      |  CASE WHEN nb < 4096 THEN CAST(nb AS DOUBLE)
      |       ELSE 4095 * 4294967296.0 / CAST(mb AS DOUBLE) END AS d_b,
      |  common_keys,
      |  CAST(raw AS DOUBLE) * (4294967296.0 / CAST(theta AS DOUBLE)) AS est_join_rows
      |FROM j CROSS JOIN th""".stripMargin

  /** Content-addressed corpus manifest over the documents table: per
    * underlying parquet file, row count + XOR-folded content
    * fingerprints — the manifest-driven-incremental-processing
    * primitive. The driver tables are single files, so the oracle can
    * replay the XOR fold over the `documents` view with the literal file
    * name; the per-file grouping itself is spec-gated against a
    * deliberately two-file table in DiagnosticsSpec.
    */
  def corpusManifestQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diagnostics.corpusManifest(
        T(s, dir, "documents"), col("text"))
      // the operator keys on the FULL path; project the basename only for
      // the oracle gate (the driver table is a single known file)
      // fp_sum is DECIMAL(38,0) (a 21-digit value at sf0.01) — emit it as a
      // STRING so the driver's hash canonicalization (which coerces numerics
      // through int64/float64) cannot lose precision on either side.
      .select(regexp_extract(col("path"), "[^/]+$", 0).as("file"),
        col("n_rows"), col("fp_xor"), col("fp_sum").cast("string").as("fp_sum"))
      .orderBy(col("file"))

  val corpusManifestOracle: String =
    """SELECT 'documents.parquet' AS file,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  bit_xor(('0x' || substring(md5(text), 1, 15))::BIGINT) AS fp_xor,
      |  CAST(CAST(SUM(('0x' || substring(md5(text), 1, 15))::BIGINT) AS DECIMAL(38,0)) AS VARCHAR) AS fp_sum
      |FROM documents""".stripMargin

  /** Corpus snapshot diff: v1 = docs < 450, v2 = docs >= 50 with every
    * 7th doc's text amended — exercises all four statuses.
    */
  def corpusDiffQ(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val v1 = docs.filter(col("doc_id") < 450)
    val v2 = docs.filter(col("doc_id") >= 50)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    graft.operators.Diagnostics.corpusDiff(v1, v2, col("doc_id"), col("text"))
      .orderBy(col("id"))
  }

  val corpusDiffOracle: String =
    """WITH o AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 450),
      |nw AS (SELECT doc_id AS id,
      |         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
      |       FROM documents WHERE doc_id >= 50)
      |SELECT COALESCE(o.id, nw.id) AS id,
      |  CASE WHEN o.id IS NULL THEN 'added'
      |       WHEN nw.id IS NULL THEN 'removed'
      |       WHEN o.text <> nw.text THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM o FULL OUTER JOIN nw ON o.id = nw.id
      |ORDER BY id""".stripMargin

  /** Mergeable KLL quantile sketch over order totals per priority — the
    * 100-TB percentile path (q22's exact `percentile_disc` is a full sort
    * per group by definition; the sketch shuffles O(k log(n/k)) doubles).
    * At sf0.01 every priority group (~3k orders) fits inside the k=4096
    * capacity, so the sketch runs its EXACT regime and the oracle is
    * DuckDB's `quantile_disc` — a hash gate on the full aggregation
    * plumbing; the lossy regime (which the same query exercises at sf0.1+
    * in Bench) is spec-gated with rank-error bounds in QuantileSketchSpec.
    */
  def quantileSketchQ(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(graft.functions.QuantileSketch
          .kllQuantiles(4096, Seq(0.5, 0.9, 0.99))(col("o_totalprice")).as("qs"),
        count(lit(1)).as("n"))
      .select(col("o_orderpriority"), col("qs")(0).as("p50"),
        col("qs")(1).as("p90"), col("qs")(2).as("p99"), col("n"))
      .orderBy(col("o_orderpriority"))

  val quantileSketchOracle: String =
    """SELECT o_orderpriority,
      |  quantile_disc(o_totalprice, 0.5) AS p50,
      |  quantile_disc(o_totalprice, 0.9) AS p90,
      |  quantile_disc(o_totalprice, 0.99) AS p99,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Mergeable Misra-Gries heavy-hitters sketch over per-language tokens —
    * the 100-TB frequent-items path (the exact `heavy_hitters` shuffles one
    * row per distinct key; the sketch's partial buffer is capped at k
    * entries per group however large the vocabulary). The synthetic corpus
    * has far fewer distinct tokens than k = 4096, so the sketch runs its
    * EXACT regime and DuckDB's per-group top-5 replays it — a hash gate on
    * the full aggregation plumbing; the lossy regime (undercount ≤ n/(k+1),
    * heavy-hitter retention, merge associativity) is spec-gated in
    * FrequencySketchSpec.
    */
  def heavyHittersSketchQ(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("lang"),
        explode(graft.functions.TextFunctions.tokensWs(col("text"))).as("term"))
      .groupBy(col("lang"))
      .agg(graft.functions.FrequencySketch.mgTopK(4096, 5)(col("term")).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "kv")))
      .select(col("lang"), (col("pos") + 1).as("rank"),
        col("kv._1").as("term"), col("kv._2").as("cnt"))
      .orderBy(col("lang"), col("rank"))

  val heavyHittersSketchOracle: String =
    """WITH toks AS (
      |  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |c AS (SELECT lang, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
      |r AS (
      |  SELECT lang, term, cnt,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, term)
      |      AS INTEGER) AS rank
      |  FROM c)
      |SELECT lang, rank, term, CAST(cnt AS BIGINT) AS cnt
      |FROM r WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin

  /** Count-min sketch ([[graft.functions.CmsAggregator]]): the point-query
    * sketch member — build one 4×64 counter matrix over all corpus tokens,
    * then estimate a fixed probe set. UNLIKE the exact-regime-gated MG
    * entry, the oracle rebuilds the SKETCH ITSELF (every md5-bucket
    * counter) and replays the min-over-rows estimates, so the gate is
    * exact even in the lossy (colliding) regime — which this narrow
    * width deliberately exercises.
    */
  private[queries] val cmsProbeTerms =
    Seq("batch", "hash", "join", "row", "scan", "zz-missing")

  def cmsCountsQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.FrequencySketch
    val depth = 4; val width = 64
    T(s, dir, "documents")
      .select(explode(
        graft.functions.TextFunctions.tokensWs(col("text"))).as("term"))
      .agg(FrequencySketch.cms(depth, width)(col("term")).as("sk"))
      .select(col("sk.counters").as("c"))
      .select(array(cmsProbeTerms.map(t =>
        struct(lit(t).as("term"),
          FrequencySketch.cmsEstimate(col("c"), t, depth, width)
            .cast("long").as("est"))): _*).as("a"))
      .select(explode(col("a")).as("s"))
      .select(col("s.term").as("term"), col("s.est").as("est"))
      .orderBy(col("term"))
  }

  val cmsCountsOracle: String = {
    val vals = cmsProbeTerms.map(t => s"('$t')").mkString(", ")
    s"""WITH toks AS (
       |  SELECT unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
       |    ELSE string_split_regex(trim(text), '\\s+') END) AS term
       |  FROM documents),
       |rr AS (SELECT unnest(range(0, 4)) AS r),
       |bk AS (
       |  SELECT rr.r,
       |    CAST(('0x' || substring(md5(CAST(rr.r AS VARCHAR) || ':'
       |      || t.term), 1, 8)) AS BIGINT) % 64 AS b,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM toks t CROSS JOIN rr GROUP BY 1, 2),
       |probes AS (SELECT * FROM (VALUES $vals) p(term)),
       |pe AS (
       |  SELECT p.term, rr.r,
       |    CAST(('0x' || substring(md5(CAST(rr.r AS VARCHAR) || ':'
       |      || p.term), 1, 8)) AS BIGINT) % 64 AS b
       |  FROM probes p CROSS JOIN rr)
       |SELECT pe.term, CAST(MIN(COALESCE(bk.c, 0)) AS BIGINT) AS est
       |FROM pe LEFT JOIN bk ON bk.r = pe.r AND bk.b = pe.b
       |GROUP BY pe.term
       |ORDER BY pe.term""".stripMargin
  }

  /** Token-length histogram of the documents corpus in power-of-two
    * buckets — the packing/batch-shape planning report.
    */
  def lengthHistogramQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diagnostics.lengthHistogram(
        T(s, dir, "documents"), col("text"))
      .orderBy(col("bucket"))

  val lengthHistogramOracle: String =
    """WITH d AS (
      |  SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ntok
      |  FROM documents),
      |b AS (SELECT ntok, CAST(length(bin(ntok)) - 1 AS INTEGER) AS bucket FROM d)
      |SELECT bucket, (CAST(1 AS BIGINT) << bucket) AS lo_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(ntok) AS BIGINT) AS total_tokens,
      |  CAST(MAX(ntok) AS BIGINT) AS max_tokens
      |FROM b GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** Dataset-card summary of the documents corpus: per-language rows plus
    * the all-corpus rollup (lang = "*").
    */
  def corpusReportQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diagnostics.corpusReport(
        T(s, dir, "documents"), col("lang"), col("source"), col("text"),
        shortTokens = 16)
      .orderBy(col("lang"))

  val corpusReportOracle: String =
    """WITH d AS (
      |  SELECT lang, source,
      |    len(string_split_regex(trim(text), '\s+')) AS ntok,
      |    length(text) AS nchr
      |  FROM documents)
      |SELECT CASE WHEN GROUPING(lang) = 1 THEN '*'
      |            ELSE COALESCE(lang, '<null>') END AS lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
      |  CAST(SUM(ntok) AS BIGINT) AS total_tokens,
      |  CAST(SUM(nchr) AS BIGINT) AS total_chars,
      |  SUM(ntok)::DOUBLE / COUNT(*)::DOUBLE AS avg_tokens,
      |  CAST(SUM(CASE WHEN ntok < 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
      |FROM d
      |GROUP BY ROLLUP(lang)
      |ORDER BY lang""".stripMargin

  /** Classifier-based curation under the hash gate
    * ([[graft.operators.TextClassifier.classifyLinearPinned]]): the
    * pinned 5-language logistic-regression weights
    * ([[PinnedArtifacts.LangLrWeights]], trained once offline over
    * md5-hashed char-trigram counts, integer-quantized at 2^20) applied
    * to every document — output is the (true lang, predicted lang,
    * count) confusion matrix, the deployment readout of a fastText-style
    * curation classifier. Scoring is exact integer arithmetic end to
    * end, so the oracle replays grams → md5 dims → count·weight sums →
    * bias → tie-indexed argmax verbatim.
    */
  def langClassifierQ(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    graft.operators.TextClassifier.classifyLinearPinned(
        d, col("doc_id"), col("text"),
        PinnedArtifacts.LangLrWeights, n = PinnedArtifacts.LangLrGramN,
        dims = PinnedArtifacts.LangLrDims)
      .join(d.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred"))
  }

  /** The PRODUCTION classifier family under the hash gate
    * ([[graft.operators.TextClassifier.classifyLinearPinned]] with
    * family = "fast": the native xxhash64 CharNgramDimCounts kernel +
    * [[PinnedArtifacts.LangLrWeightsFast]]): the same
    * featurize → integer score → tie-indexed argmax → confusion chain as
    * `lang_classifier`, applied to the FIXED fixture corpus
    * ([[PinnedArtifacts.LangFastFixture]]). The featurizer is not
    * SQL-replayable (DuckDB has no xxhash64), so its fixture output is
    * PINNED ([[PinnedArtifacts.LangFastFixtureDims]], kernel==pin
    * asserted per doc by TextClassifierSpec — the `mm_phash_pairs`
    * pattern) and the oracle replays everything downstream of it over
    * the same literals. Until round 19 the fast family had only spec
    * coverage; this gives the production path the same end-to-end
    * replay protection as the md5 oracle family.
    */
  def langClassifierFastQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = PinnedArtifacts.LangFastFixture.toDF("doc_id", "lang", "text")
    graft.operators.TextClassifier.classifyLinearPinned(
        d, col("doc_id"), col("text"),
        PinnedArtifacts.LangLrWeightsFast, n = PinnedArtifacts.LangLrGramN,
        dims = PinnedArtifacts.LangLrDims, family = "fast")
      .join(d.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred"))
  }

  val langClassifierFastOracle: String =
    s"""WITH w(label, tie, biasq, dim, wq) AS (VALUES
       |${PinnedArtifacts.langLrFastSqlValues}),
       |c(doc_id, dim, cnt) AS (VALUES
       |${PinnedArtifacts.langFastFixtureDimSqlValues}),
       |lbl(doc_id, lang) AS (VALUES
       |${PinnedArtifacts.langFastFixtureLabelSqlValues}),
       |s AS (
       |  SELECT c.doc_id, w.label, w.tie, SUM(c.cnt * w.wq) AS s0
       |  FROM c JOIN w ON w.dim = c.dim GROUP BY 1, 2, 3),
       |sc AS (
       |  SELECT s.doc_id, s.label, s.tie, s.s0 + b.biasq AS scoreq
       |  FROM s JOIN (SELECT DISTINCT label, tie, biasq FROM w) b
       |    ON b.label = s.label AND b.tie = s.tie),
       |p AS (
       |  SELECT doc_id, label AS pred,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY scoreq DESC, tie) AS rk
       |  FROM sc)
       |SELECT l.lang, p.pred, CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM p JOIN lbl l ON l.doc_id = p.doc_id
       |WHERE p.rk = 1
       |GROUP BY 1, 2
       |ORDER BY lang, pred""".stripMargin

  /** The pinned-classifier per-class score CTE chain — grams → md5 dims →
    * count·weight sums → bias — shared by [[langClassifierOracle]] and
    * [[conformalLangSetsOracle]] (ONE copy of the score replay, so the
    * uncertainty readout can never diverge from the argmax readout).
    * Yields `sc(doc_id, lang, label, tie, scoreq)`.
    */
  private def langLrScoreCte: String =
    s"""w(label, tie, biasq, dim, wq) AS (VALUES
       |${PinnedArtifacts.langLrSqlValues}),
       |g AS (
       |  SELECT doc_id, lang,
       |    unnest(CASE WHEN length(text) < ${PinnedArtifacts.LangLrGramN}
       |      THEN [text]
       |      ELSE list_transform(
       |             range(1, length(text) - ${PinnedArtifacts.LangLrGramN - 2}),
       |             i -> substring(text, i, ${PinnedArtifacts.LangLrGramN}))
       |      END) AS gram
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substring(md5(gram), 1, 8))::BIGINT
       |      % ${PinnedArtifacts.LangLrDims} AS dim
       |  FROM g),
       |c AS (SELECT doc_id, lang, dim, COUNT(*) AS cnt FROM d
       |      GROUP BY 1, 2, 3),
       |s AS (
       |  SELECT c.doc_id, c.lang, w.label, w.tie,
       |    SUM(c.cnt * w.wq) AS s0
       |  FROM c JOIN w ON w.dim = c.dim GROUP BY 1, 2, 3, 4),
       |sc AS (
       |  SELECT s.doc_id, s.lang, s.label, s.tie, s.s0 + b.biasq AS scoreq
       |  FROM s JOIN (SELECT DISTINCT label, tie, biasq FROM w) b
       |    ON b.label = s.label AND b.tie = s.tie)""".stripMargin

  val langClassifierOracle: String =
    s"""WITH $langLrScoreCte,
       |p AS (
       |  SELECT doc_id, lang, label AS pred,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY scoreq DESC, tie) AS rk
       |  FROM sc)
       |SELECT lang, pred, CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM p WHERE rk = 1
       |GROUP BY 1, 2
       |ORDER BY lang, pred""".stripMargin

  /** Mondrian conformal prediction SETS from the pinned classifier
    * ([[graft.operators.Diagnostics.conformalPredictionSets]] over
    * [[graft.operators.TextClassifier.linearScoresPinned]], α = 1/10):
    * per-class conformal score quantiles calibrated on the even-id half
    * (true labels), achieved coverage and mean prediction-set size on
    * the odd-id half — the calibrated-uncertainty deployment readout of
    * classifier-based curation. Everything is exact integer arithmetic
    * (negated integer scores, integer order-statistic index, long
    * membership compares), so the oracle replays the full chain on the
    * SHARED score CTE.
    */
  def conformalLangSetsQ(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    val scores = graft.operators.TextClassifier.linearScoresPinned(
      d, col("doc_id"), col("text"), PinnedArtifacts.LangLrWeights,
      n = PinnedArtifacts.LangLrGramN, dims = PinnedArtifacts.LangLrDims)
    val truth = d.select(col("doc_id").as("id"), col("lang").as("truth"),
      (col("doc_id") % 2 === 0).as("is_cal"))
    graft.operators.Diagnostics.conformalPredictionSets(scores, truth)
      .orderBy(col("grp"))
  }

  val conformalLangSetsOracle: String =
    s"""WITH $langLrScoreCte,
       |cal AS (
       |  SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS n_cal,
       |    list(-scoreq ORDER BY -scoreq) AS ms
       |  FROM sc WHERE doc_id % 2 = 0 AND label = lang GROUP BY 1),
       |qh AS (
       |  SELECT label, n_cal,
       |    list_extract(ms, CAST((9 * (n_cal + 1) + 9) // 10 AS INT)) AS qq
       |  FROM cal),
       |mem AS (
       |  SELECT s.doc_id, s.lang, s.label,
       |    (q.qq IS NULL OR -s.scoreq <= q.qq) AS member
       |  FROM sc s LEFT JOIN qh q ON q.label = s.label
       |  WHERE s.doc_id % 2 <> 0),
       |pd AS (
       |  SELECT doc_id, lang,
       |    CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS setsz,
       |    MAX(CASE WHEN label = lang THEN member END) AS cov
       |  FROM mem GROUP BY 1, 2),
       |ag AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_test,
       |    CAST(SUM(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_covered,
       |    CAST(SUM(setsz) AS BIGINT) AS ss
       |  FROM pd GROUP BY 1)
       |SELECT COALESCE(q.label, a.lang) AS grp,
       |  COALESCE(q.n_cal, 0) AS n_cal,
       |  CAST(q.qq AS DOUBLE) / 1048576.0 AS q_hat,
       |  COALESCE(a.n_test, 0) AS n_test,
       |  COALESCE(a.n_covered, 0) AS n_covered,
       |  CAST(a.n_covered AS DOUBLE) / CAST(a.n_test AS DOUBLE) AS coverage,
       |  CAST(a.ss AS DOUBLE) / CAST(a.n_test AS DOUBLE) AS avg_set_size
       |FROM qh q FULL OUTER JOIN ag a ON a.lang = q.label
       |ORDER BY grp""".stripMargin

  /** Poisson-bootstrap CI for mean tokens-per-doc per language
    * ([[graft.operators.Diagnostics.bootstrapCiMean]], B = 64, α = 0.05):
    * the error-bar readout next to every per-language eval mean. Fully
    * deterministic — md5-driven Poisson(1) multiplicities, exact-integer
    * replicate sums — so the oracle replays all 64 replicates and the
    * order-statistic interval verbatim.
    */
  def bootstrapCiQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diagnostics.bootstrapCiMean(
        T(s, dir, "documents"), col("lang"),
        TextFunctions.tokenCountWs(col("text")).cast("long"),
        col("doc_id"), b = 64)
      .orderBy(col("grp"))

  val bootstrapCiOracle: String = {
    val ladder = graft.operators.Diagnostics.PoissonCdf1.zipWithIndex
      .map { case (c, k) => s"WHEN uu < $c THEN $k" }
      .mkString("CASE ", " ", " ELSE 8 END")
    s"""WITH x AS (
       |  SELECT lang AS grp, CAST(doc_id AS VARCHAR) AS k,
       |    CAST(CASE WHEN trim(text) = '' THEN 0
       |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
       |      AS xv
       |  FROM documents),
       |r AS (SELECT grp, k, xv, unnest(range(0, 64)) AS b FROM x),
       |u AS (
       |  SELECT grp, b, xv,
       |    CAST(('0x' || substring(md5(k || ':' || CAST(b AS VARCHAR)),
       |      1, 8))::BIGINT AS DOUBLE) / 4294967296.0 AS uu
       |  FROM r),
       |w AS (SELECT grp, b, xv, $ladder AS wt FROM u),
       |rm AS (
       |  SELECT grp, b, SUM(wt * xv) AS swx, SUM(wt) AS sw
       |  FROM w GROUP BY 1, 2),
       |rm2 AS (
       |  SELECT grp, CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) AS m
       |  FROM rm WHERE sw > 0),
       |ci AS (SELECT grp, list(m ORDER BY m) AS ms FROM rm2 GROUP BY grp),
       |pt AS (
       |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(SUM(xv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_v
       |  FROM x GROUP BY 1)
       |SELECT p.grp, p.n_rows, p.mean_v, ci.ms[2] AS ci_lo,
       |  ci.ms[63] AS ci_hi,
       |  COALESCE(CAST(len(ci.ms) AS BIGINT), 0) AS n_reps
       |FROM pt p LEFT JOIN ci ON ci.grp = p.grp
       |ORDER BY p.grp""".stripMargin
  }

  /** Two-corpus token-distribution divergence
    * ([[graft.operators.TextIndex.corpusDivergence]]): Hellinger + total
    * variation between the even- and odd-doc_id halves of the corpus —
    * the drift gate between corpus versions, log-free so every term
    * contribution is engine-exact. The oracle rebuilds both unigram
    * distributions and replays the 2^40 fixed-point contribution sums.
    */
  def corpusDivergenceQ(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    graft.operators.TextIndex.corpusDivergence(
      d.filter(col("doc_id") % 2 === 0), col("text"),
      d.filter(col("doc_id") % 2 === 1), col("text"))
  }

  /** The SAME divergence served from STREAM-MAINTAINED counts
    * ([[graft.streaming.Streams.TokenCountIngest]]): the even half of the
    * corpus arrives in two micro-batches whose (fp, c) deltas fold
    * additively into the count state; the folded state then feeds
    * [[graft.operators.TextIndex.corpusDivergenceFromCounts]] against the
    * odd half's batch counts. Integer counts are integer counts, so the
    * batch entry's oracle gates this VERBATIM — green only if the fold's
    * additivity AND the from-counts serving path are exact (the
    * `dpo_from_counts` / `bm25_from_index` pattern).
    */
  def divergenceFromStreamQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = T(s, dir, "documents")
    val even = d.filter(col("doc_id") % 2 === 0)
    val state0 = Seq.empty[(Long, Long)].toDF("fp", "c")
    val ing = new graft.streaming.Streams.TokenCountIngest(state0, col("text"))
    ing.handler(even.filter(col("doc_id") % 4 === 0), 0L)
    ing.handler(even.filter(col("doc_id") % 4 =!= 0), 1L)
    graft.operators.TextIndex.corpusDivergenceFromCounts(
      ing.current,
      graft.operators.TextIndex.tokenFpCounts(
        d.filter(col("doc_id") % 2 === 1), col("text")))
  }

  val corpusDivergenceOracle: String =
    """WITH ta AS (
      |  SELECT unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
      |    ELSE string_split_regex(trim(text), '\s+') END) AS t
      |  FROM documents WHERE doc_id % 2 = 0),
      |tb AS (
      |  SELECT unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
      |    ELSE string_split_regex(trim(text), '\s+') END) AS t
      |  FROM documents WHERE doc_id % 2 = 1),
      |ga AS (SELECT t, COUNT(*) AS c FROM ta GROUP BY 1),
      |gb AS (SELECT t, COUNT(*) AS c FROM tb GROUP BY 1),
      |m AS (
      |  SELECT COALESCE(ga.c, 0) AS ca, COALESCE(gb.c, 0) AS cb
      |  FROM ga FULL OUTER JOIN gb ON ga.t = gb.t),
      |tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM m),
      |q AS (
      |  SELECT ca, cb, na, nb,
      |    CASE WHEN ca = 0 THEN 0.0
      |         ELSE CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) END AS p,
      |    CASE WHEN cb = 0 THEN 0.0
      |         ELSE CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) END AS qq
      |  FROM m CROSS JOIN tot),
      |z AS (
      |  SELECT ca, cb, na, nb,
      |    CAST(round((sqrt(p) - sqrt(qq)) * (sqrt(p) - sqrt(qq))
      |      * 1099511627776.0) AS BIGINT) AS qh,
      |    CAST(round(abs(p - qq) * 1099511627776.0) AS BIGINT) AS qtv
      |  FROM q)
      |SELECT
      |  CAST(SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_a,
      |  CAST(SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_b,
      |  CAST(SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_shared,
      |  CAST(MAX(na) AS BIGINT) AS n_tokens_a,
      |  CAST(MAX(nb) AS BIGINT) AS n_tokens_b,
      |  sqrt((CAST(SUM(qh) AS DOUBLE) / 1099511627776.0) * 0.5) AS hellinger,
      |  (CAST(SUM(qtv) AS DOUBLE) / 1099511627776.0) * 0.5 AS tv_dist
      |FROM z""".stripMargin
}
