package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators: quality scoring, language ID, token counting,
  * fingerprinting. All pure per-row projections (narrow, codegen-friendly,
  * no shuffle) — at 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Fixed stopword list shared with the SQL/oracle spellings. */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this")

  /** Length/token/type-token-ratio/stopword quality features + a
    * pass/fail gate.
    *
    * Ratios are reported twice: as doubles (`ttr`, `avg_token_len`,
    * `stopword_ratio`) for human use, and as parts-per-million BIGINT
    * floor divisions (`ttr_ppm`, …) that are integer-exact — identical in
    * every engine, immune to the half-up/half-even decimal-tie divergence
    * between Spark and some DuckDB builds. Oracle-compared queries and the
    * quality gate use the ppm forms. */
  def qualityStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = split(t, " ")
    val swArr = stopwords.map(s => s"'$s'").mkString("ARRAY(", ", ", ")")
    val counted = docs.select(col(idCol),
      length(t).cast("bigint").as("n_chars"),
      size(toks).cast("bigint").as("n_tokens"),
      size(array_distinct(toks)).cast("bigint").as("n_distinct_tokens"),
      length(regexp_replace(t, " ", "")).cast("bigint").as("__n_nospace"),
      size(expr(s"REGEXP_EXTRACT_ALL($textCol, '[0-9]+', 0)")).cast("bigint").as("n_numbers"),
      size(expr(s"FILTER(SPLIT(LOWER($textCol), ' '), w -> ARRAY_CONTAINS($swArr, w))"))
        .cast("bigint").as("__n_stop"))
    counted.select(col(idCol), col("n_chars"), col("n_tokens"), col("n_distinct_tokens"),
      (col("n_distinct_tokens").cast("double") / col("n_tokens")).as("ttr"),
      expr("(1000000 * n_distinct_tokens) DIV n_tokens").as("ttr_ppm"),
      (col("__n_nospace").cast("double") / col("n_tokens")).as("avg_token_len"),
      expr("(1000000 * __n_nospace) DIV n_tokens").as("avg_token_len_ppm"),
      col("n_numbers"),
      (col("__n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
      expr("(1000000 * __n_stop) DIV n_tokens").as("stopword_ppm"))
      .withColumn("quality_pass",
        (col("n_tokens").between(10, 1000) && col("ttr_ppm") > 200000).cast("int"))
  }

  /** Per-group quantile quality gate: keep rows whose score is at or above
    * their group's pct-quantile (e.g. drop the worst half of every source).
    *
    * exact=false is the 100 TB path: approx_percentile is a mergeable
    * sketch (partial+final aggregation, no per-group sort) whose error is
    * bounded by its accuracy parameter. exact=true computes the true
    * quantile (one sort per group) — used by the DuckDB oracle, whose
    * quantile_cont interpolates identically. Thresholds are one row per
    * group joined back (broadcast when small, which a source/domain
    * dimension always is); the corpus itself never reshuffles. */
  def qualityGate(df: DataFrame, groupCol: String, scoreCol: String,
                  pct: Double, exact: Boolean = false): DataFrame = {
    require(pct > 0 && pct < 1, s"pct must be in (0,1), got $pct")
    val thr =
      if (exact) expr(s"percentile($scoreCol, $pct)")
      else expr(s"approx_percentile($scoreCol, $pct)")
    val thresholds = df.groupBy(groupCol).agg(thr.as("__thr"))
    df.join(thresholds, Seq(groupCol))
      .filter(col(scoreCol) >= col("__thr"))
      .drop("__thr")
  }

  /** Marker-token language ID with deterministic tie-break (n-gram
    * heuristic; >=2 marker hits wins, else 'en'). */
  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val markers = Seq(
      "fr" -> "(le|la|et|des|une)",
      "es" -> "(el|los|las|una|del)",
      "de" -> "(der|die|das|und|ein)",
      "zh" -> "(de|shi|bu|zai|yi)")
    val scored = markers.foldLeft(docs.select(col(idCol), col(textCol))) {
      case (d, (lang, re)) =>
        d.withColumn(s"__$lang",
          size(expr(s"REGEXP_EXTRACT_ALL(LOWER($textCol), '\\\\b$re\\\\b', 0)")))
    }
    val pred = markers.map { case (l, _) => s"WHEN __$l >= 2 THEN '$l'" }
      .mkString("CASE ", " ", " ELSE 'en' END")
    scored.select(col(idCol), expr(pred).as("lang_pred"))
  }

  /** Whitespace and BPE-ish regex token counts. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      size(split(col(textCol), "\\s+")).cast("bigint").as("ws_tokens"),
      size(expr(s"REGEXP_EXTRACT_ALL(LOWER($textCol), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
        .cast("bigint").as("bpe_ish_tokens"))

  /** Content fingerprints: md5 plus the poly31 rolling hash. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      md5(lower(col(textCol))).as("fp_md5"),
      expr(HashSpec.poly31(s"LOWER($textCol)")).as("fp_roll"))

  /** Split documents into fixed-size character chunks with overlap — the
    * standard long-document → training-sample step. Pure explode over
    * integer arithmetic (no shuffle; rows fan out in place), chunk count
    * clamped BEFORE the division so short docs yield exactly one chunk in
    * every engine (negative integer division floors in some, truncates in
    * others). */
  /** Content-defined chunking: boundaries fall where the rolling poly31
    * hash of the trailing `window` chars divides `div` (expected chunk
    * length = `div` chars), so an edit shifts only the chunks it overlaps —
    * chunk-level dedup stays stable under insertions, unlike the
    * fixed-stride `chunk` below. One native expression per row
    * (`cdc_chunks`, rolling one-pass), then a posexplode — no shuffle. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                window: Int = 8, div: Int = 64): DataFrame =
    docs.select(col(idCol),
        posexplode(expr(s"cdc_chunks($textCol, $window, $div)")).as(Seq("chunk_idx", "chunk")))
      .select(col(idCol), col("chunk_idx").cast("bigint").as("chunk_idx"), col("chunk"))

  def chunk(docs: DataFrame, idCol: String, textCol: String,
            chunkChars: Int = 100, overlapChars: Int = 20): DataFrame = {
    require(chunkChars > overlapChars && overlapChars >= 0, "need chunk > overlap >= 0")
    val step = chunkChars - overlapChars
    docs.select(col(idCol), col(textCol),
        expr(s"EXPLODE(SEQUENCE(0, GREATEST(0, LENGTH($textCol) - ${overlapChars + 1}) DIV $step))")
          .as("chunk_idx"))
      .select(col(idCol), col("chunk_idx").cast("bigint").as("chunk_idx"),
        expr(s"SUBSTR($textCol, 1 + chunk_idx * $step, $chunkChars)").as("chunk"))
  }

  /** Redact common PII shapes (emails, phone-like numbers) — per-row regex
    * passes, scan speed. Patterns are deliberately simple and portable
    * (character classes + bounded quantifiers) so the behavior is
    * engine-independent; a production deployment would extend the list. */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      regexp_replace(
        regexp_replace(col(textCol),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
        "[0-9]{3}-[0-9]{3}-[0-9]{4}", "[PHONE]").as("scrubbed"))

  /** URL extraction + per-domain corpus stats (C4/RefinedWeb-style URL
    * filtering input): every URL in the text is extracted and exploded,
    * its host grouped on — the table a blocklist/allowlist gate joins
    * against. Per-row regex + one partial+final aggregation on domain;
    * COUNT(DISTINCT doc_id) is the one expensive piece (Spark plans it as
    * the two-phase Expand rewrite, fine at scale because domains are
    * low-cardinality relative to docs). */
  def urlStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        explode(expr(s"REGEXP_EXTRACT_ALL($textCol, 'https?://[^ ]+', 0)")).as("__url"))
      .select(col(idCol), regexp_extract(col("__url"), "^https?://([^/]+)", 1).as("domain"))
      .groupBy("domain")
      .agg(countDistinct(col(idCol)).cast("bigint").as("n_docs"),
        count("*").cast("bigint").as("n_urls"))

  /** URL blocklist gate: drop every document that mentions a URL whose
    * domain (or any parent domain — `ads.example.com` matches a blocked
    * `example.com`) appears in the blocklist. Documents without URLs pass.
    *
    * Scale: one explode to (doc, domain) rows, one LEFT SEMI join against
    * the blocklist to find offenders (suffix match via the exploded
    * parent-domain chain, so the join stays an equi-join on the domain
    * string), one anti join back — the corpus text itself never shuffles,
    * only (id, domain) pairs do, and a real blocklist is dimension-sized
    * so AQE broadcasts it. */
  def blocklistGate(docs: DataFrame, idCol: String, textCol: String,
                    blocked: DataFrame): DataFrame = {
    val domains = docs.select(col(idCol),
        explode(expr(s"REGEXP_EXTRACT_ALL($textCol, 'https?://[^ ]+', 0)")).as("__url"))
      .select(col(idCol), regexp_extract(col("__url"), "^https?://([^/]+)", 1).as("__d"))
      // parent-domain chain: ads.example.com -> [ads.example.com,
      // example.com, com] so a blocked parent matches by equality
      .select(col(idCol), explode(expr(
        """TRANSFORM(SEQUENCE(0, SIZE(SPLIT(__d, '\\.')) - 1),
          |  i -> ARRAY_JOIN(SLICE(SPLIT(__d, '\\.'), i + 1, SIZE(SPLIT(__d, '\\.'))), '.'))""".stripMargin))
        .as("domain"))
    val offenders = domains
      .join(blocked.select(col(blocked.columns.head).as("domain")), Seq("domain"), "left_semi")
      .select(col(idCol)).distinct()
    docs.join(offenders, Seq(idCol), "left_anti")
  }

  /** Corpus token-length histogram: docs bucketed by whitespace token count
    * into `binWidth`-wide bins. One partial+final aggregation over a
    * per-row integer projection — scan-speed at any corpus size. */
  def tokenHistogram(docs: DataFrame, idCol: String, textCol: String,
                     binWidth: Int = 20): DataFrame =
    docs.select(size(split(col(textCol), " ")).cast("bigint").as("__n"))
      .groupBy(expr(s"(__n DIV $binWidth) * $binWidth").as("bin_lo"))
      .agg(count("*").cast("bigint").as("n_docs"),
        sum("__n").cast("bigint").as("sum_tokens"))

  /** Intra-document repetition signals (Gopher/RefinedWeb-style quality
    * gates): most-frequent-token share and duplicate-token share, as
    * integer-exact ppm.
    *
    * Repetition is a within-document property, so this is a pure per-row
    * array fold — zero shuffles, scan speed at any corpus size. The
    * most-frequent-token count is the max run length in the sorted token
    * array (O(n log n) per row); exploding to (doc, token) pairs and
    * aggregating would move tokens x docs rows through two shuffles for
    * the same answer. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), split(lower(col(textCol)), " ").as("__w"))
      .select(col(idCol),
        size(col("__w")).cast("bigint").as("n_tokens"),
        size(array_distinct(col("__w"))).cast("bigint").as("__nd"),
        expr("""AGGREGATE(ARRAY_SORT(__w),
          NAMED_STRUCT('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
          (s, x) -> IF(s.prev IS NOT NULL AND x = s.prev,
            NAMED_STRUCT('prev', x, 'run', s.run + 1, 'best', GREATEST(s.best, s.run + 1)),
            NAMED_STRUCT('prev', x, 'run', CAST(1 AS BIGINT), 'best', GREATEST(s.best, CAST(1 AS BIGINT)))),
          s -> s.best)""").as("max_token_count"))
      .select(col(idCol), col("n_tokens"), col("max_token_count"),
        expr("(1000000 * max_token_count) DIV n_tokens").as("max_token_ppm"),
        expr("(1000000 * (n_tokens - __nd)) DIV n_tokens").as("dup_token_ppm"))

  /** Gopher-style document-quality rules (Rae et al. 2021, appendix A —
    * the standard pre-training corpus filters), each reported as its raw
    * integer-exact statistic plus a 0/1 flag, with `gopher_pass` = all
    * rules hold:
    *
    *   r_word_count    — 50 <= words <= 100000
    *   r_mean_word_len — mean word length in [3, 10] chars
    *   r_symbol        — ('#' + '...') per word < 0.1
    *   r_bullet        — at most 90% of lines start with a bullet
    *   r_ellipsis_line — at most 30% of lines end with '...'
    *   r_alpha         — at least 80% of words contain a letter
    *   r_stopword      — contains >= 2 of Gopher's 8 stop words
    *
    * All ratios are parts-per-million BIGINT floor divisions, so every
    * engine replays the flags bit-for-bit. Pure per-row projection — no
    * shuffle, runs at scan speed at any corpus size (the repetition-based
    * Gopher rules live in `repetitionStats`). */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stopSql = gopherStopwords.map(s => s"'$s'").mkString("ARRAY(", ", ", ")")
    docs
      .select(col(idCol), col(textCol).as("__x"),
        split(col(textCol), " ").as("__w"),
        split(col(textCol), "\n").as("__l"))
      .select(col(idCol),
        size(col("__w")).cast("bigint").as("n_words"),
        size(col("__l")).cast("bigint").as("n_lines"),
        expr("AGGREGATE(__w, CAST(0 AS BIGINT), (a, w) -> a + LENGTH(w))").as("__wchars"),
        (length(col("__x")) - length(regexp_replace(col("__x"), "#", "")))
          .cast("bigint").as("__hash"),
        ((length(col("__x")) - length(expr("REPLACE(__x, '...', '')"))) / 3)
          .cast("bigint").as("__ellipsis"),
        expr("SIZE(FILTER(__w, w -> w RLIKE '[A-Za-z]'))").cast("bigint").as("__alpha"),
        expr("SIZE(FILTER(__l, l -> l LIKE '- %' OR l LIKE '* %' OR l = '-' OR l = '*'))")
          .cast("bigint").as("__bullet"),
        expr("SIZE(FILTER(__l, l -> l LIKE '%...'))").cast("bigint").as("__ell_l"),
        expr(s"SIZE(ARRAY_INTERSECT(ARRAY_DISTINCT(SPLIT(LOWER(__x), ' ')), $stopSql))")
          .cast("bigint").as("stopword_hits"))
      .select(col(idCol), col("n_words"), col("n_lines"), col("stopword_hits"),
        expr("(1000000 * __wchars) DIV n_words").as("mean_word_len_ppm"),
        expr("(1000000 * (__hash + __ellipsis)) DIV n_words").as("symbol_ppm"),
        expr("(1000000 * __alpha) DIV n_words").as("alpha_word_ppm"),
        expr("(1000000 * __bullet) DIV n_lines").as("bullet_line_ppm"),
        expr("(1000000 * __ell_l) DIV n_lines").as("ellipsis_line_ppm"))
      .withColumn("r_word_count", col("n_words").between(50, 100000).cast("int"))
      .withColumn("r_mean_word_len",
        col("mean_word_len_ppm").between(3000000L, 10000000L).cast("int"))
      .withColumn("r_symbol", (col("symbol_ppm") < 100000L).cast("int"))
      .withColumn("r_bullet", (col("bullet_line_ppm") <= 900000L).cast("int"))
      .withColumn("r_ellipsis_line", (col("ellipsis_line_ppm") <= 300000L).cast("int"))
      .withColumn("r_alpha", (col("alpha_word_ppm") >= 800000L).cast("int"))
      .withColumn("r_stopword", (col("stopword_hits") >= 2L).cast("int"))
      .withColumn("gopher_pass",
        (col("r_word_count") + col("r_mean_word_len") + col("r_symbol") +
          col("r_bullet") + col("r_ellipsis_line") + col("r_alpha") +
          col("r_stopword") === 7).cast("int"))
  }

  /** Gopher's stop-word presence set (rule: a document must contain at
    * least two of these). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Integer-exact TF-IDF over whitespace tokens: per-(doc, term) term
    * frequency joined with corpus document frequency, scored as
    * `(tf * n_docs * 1e6) DIV df` — the idf is the exact N/df ratio in ppm
    * (no floating log, so the oracle replays it bit-exactly; callers who
    * want the classical log-idf can post-process the ppm column).
    *
    * Scale: explode + two partial+final aggregations (shuffle on
    * (doc, term), then term). The broadcast side is bounded BY CONSTRUCTION:
    * only the top-`maxVocab` terms by document frequency (ties broken by
    * term) are kept, so the broadcast is at most `maxVocab` rows no matter
    * how large the corpus vocabulary grows (Heaps' law makes an unbounded
    * df-table broadcast a driver/executor OOM at web scale). Terms outside
    * the cap are dropped from the output — the standard vocabulary-cap
    * semantics (sklearn `max_features`); `maxVocab <= 0` disables the cap
    * AND the broadcast hint, leaving the join strategy to Catalyst/AQE so
    * an unbounded vocabulary degrades to a shuffle join instead of OOM.
    * `minTf` prunes the long tail before the join. */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String,
            minTf: Int = 3, maxVocab: Int = 1 << 20): DataFrame = {
    val toks = docs.select(col(idCol),
        explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count("*").cast("bigint").as("tf"))
    val dfreq = tf.groupBy("term").agg(count("*").cast("bigint").as("df"))
    val vocab =
      if (maxVocab > 0)
        broadcast(dfreq.orderBy(col("df").desc, col("term")).limit(maxVocab))
      else dfreq
    val nDocs = docs.agg(countDistinct(col(idCol)).cast("bigint").as("__n_docs"))
    tf.filter(col("tf") >= minTf)
      .join(vocab, "term")
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        expr("(tf * __n_docs * 1000000) DIV df").as("tfidf_ppm"))
  }

  /** Bigram language-model quality score (CCNet-style perplexity filter,
    * integer-exact): train add-one-smoothed bigram statistics on a trusted
    * reference corpus, then score every document by the mean smoothed
    * bigram likelihood, in parts-per-million —
    *
    *   ppm(w1 w2) = (1e6 * (c2(w1,w2) + 1)) DIV (c1(w1) + V)
    *   lm_ppm(doc) = SUM(ppm over the doc's consecutive bigrams) DIV n_bigrams
    *
    * where c2/c1 are train-corpus bigram/unigram counts (0 when unseen)
    * and V is the train vocabulary size. This is the add-one bigram model
    * with the likelihood kept as an exact integer ratio instead of a
    * floating log — engines replay it bit-for-bit (ln is not correctly
    * rounded across libms), and the ranking it induces is monotone with
    * per-bigram probability. High lm_ppm = text that looks like the
    * reference corpus; low = out-of-domain/garbage. Docs with fewer than
    * two tokens score NULL with n_bigrams = 0.
    *
    * Scale: the train side aggregates once (partial+final counts); the
    * corpus side explodes to one row per bigram position and joins the
    * count tables on (bigram) and (head word). With `maxVocab > 0` both
    * count tables are capped BY CONSTRUCTION — top-maxVocab unigrams by
    * (count desc, word asc), bigrams restricted to in-vocab heads — so the
    * model side stays bounded regardless of corpus vocabulary growth and
    * Catalyst/AQE may broadcast it; words outside the cap score as unseen
    * (the standard vocabulary-cap semantics). maxVocab <= 0 disables the
    * cap and the joins degrade to shuffle joins, never an OOM (the TF-IDF
    * lesson: no forced broadcast hints on vocabulary-sized tables). */
  def lmScore(corpus: DataFrame, train: DataFrame, idCol: String,
              textCol: String, maxVocab: Int = 1 << 20): DataFrame = {
    def toks(df: DataFrame, extra: Column*) =
      df.select(extra :+ split(lower(col(textCol)), " ").as("__t"): _*)
    def bigrams(df: DataFrame) = df.withColumn("__b", explode(expr(
      """CASE WHEN SIZE(__t) >= 2
        |  THEN TRANSFORM(SEQUENCE(0, SIZE(__t) - 2),
        |    i -> CONCAT(__t[i], ' ', __t[i + 1]))
        |  ELSE ARRAY() END""".stripMargin)))
    val trainToks = toks(train)
    val uniAll = trainToks.select(explode(col("__t")).as("__w"))
      .groupBy("__w").agg(count("*").cast("bigint").as("__c1"))
    val uni =
      if (maxVocab > 0) uniAll.orderBy(col("__c1").desc, col("__w")).limit(maxVocab)
      else uniAll
    // V is the FULL train vocabulary (the smoothing denominator is a model
    // constant, not a function of the cap).
    val vsize = uniAll.agg(count("*").cast("bigint").as("__v"))
    val bigAll = bigrams(trainToks)
      .groupBy(col("__b")).agg(count("*").cast("bigint").as("__c2"))
    val big =
      if (maxVocab > 0)
        bigAll.join(uni.select(col("__w")),
          expr("SUBSTRING_INDEX(__b, ' ', 1)") === col("__w")).drop("__w")
      else bigAll
    bigrams(toks(corpus, col(idCol)))
      .select(col(idCol), col("__b"),
        expr("SUBSTRING_INDEX(__b, ' ', 1)").as("__w1"))
      .join(big, Seq("__b"), "left")
      .join(uni.withColumnRenamed("__w", "__w1"), Seq("__w1"), "left")
      .crossJoin(broadcast(vsize))
      .groupBy(col(idCol))
      .agg(count("*").cast("bigint").as("n_bigrams"),
        expr("SUM((1000000 * (COALESCE(__c2, 0) + 1)) DIV (COALESCE(__c1, 0) + __v))")
          .as("__s"))
      .join(corpus.select(col(idCol)), Seq(idCol), "right")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        expr("CASE WHEN n_bigrams > 0 THEN __s DIV n_bigrams END").as("lm_ppm"))
  }

  /** Rule-based sentence split: one row per sentence with its position —
    * the granularity below paragraphs that chunking, sub-document dedup,
    * and span extraction want. A sentence is a maximal run of
    * non-terminator characters plus its trailing [.!?]+ run (the pattern
    * `[^.!?]+[.!?]*`, portable across Java regex and RE2 — no lookaround),
    * trimmed; runs that trim to nothing are dropped but keep their gap in
    * `sent_idx` (the index is the position in the raw split, so callers
    * can reassemble).
    *
    * Scale: per-row extract + explode, no shuffle. */
  def sentences(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), posexplode(
        expr(s"REGEXP_EXTRACT_ALL($textCol, '[^.!?]+[.!?]*', 0)"))
        .as(Seq("sent_idx", "__s")))
      .select(col(idCol), col("sent_idx").cast("bigint").as("sent_idx"),
        trim(col("__s")).as("sentence"))
      .filter(col("sentence") =!= "")
      .withColumn("n_chars", length(col("sentence")).cast("bigint"))

  /** HTML boilerplate strip (WET-extraction-lite, the CommonCrawl
    * HTML -> text step): drop script/style blocks, strip the remaining
    * tags, decode the common entities, and whitespace-normalize — the
    * rule-based core of trafilatura-style extraction, as a pure chained
    * regex projection (no DOM, engine-portable patterns: no backrefs, no
    * lookaround, so Java regex and RE2 agree). Returns (id, clean text,
    * html_chars_removed).
    *
    * Scale: per-row projection, scan speed, no shuffle. */
  def stripHtml(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val steps: Column => Column = raw => {
      val noScript = regexp_replace(raw, "(?is)<script[^>]*>.*?</script>", " ")
      val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
      val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
      // `&amp;` decodes LAST: decoding it first would turn entity-escaped
      // markup shown as text ("&amp;lt;b&amp;gt;") into live '<b>' tags —
      // the classic double-unescape bug
      val ent = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
        "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
        .foldLeft(noTags) { case (c, (from, to)) => regexp_replace(c, java.util.regex.Pattern.quote(from), to) }
      trim(regexp_replace(ent, "\\s+", " "))
    }
    // clean text and raw length come from the same row — one shuffle-free
    // projection, no self-join (which would also multiply duplicate ids)
    docs.select(col(idCol), steps(col(textCol)).as("clean_text"),
        length(col(textCol)).cast("bigint").as("__raw"))
      .select(col(idCol), col("clean_text"),
        (col("__raw") - length(col("clean_text"))).cast("bigint").as("html_chars_removed"))
  }

  /** Mojibake repair (ftfy-lite): detect and fix the classic
    * UTF-8-decoded-as-Latin-1 damage ("é" rendered as "Ã©"). Detection
    * counts the telltale lead bytes Ã/Â per million chars; repair replaces
    * the common two-char sequences back to their intended code points —
    * exact string replaces, replayable in any engine. Returns
    * (id, mojibake_ppm, fixed text). */
  def fixMojibake(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val pairs = Seq(
      "Ã©" -> "é", // é
      "Ã¨" -> "è", // è
      "Ã¼" -> "ü", // ü
      "Ã¶" -> "ö", // ö
      "Ã±" -> "ñ", // ñ
      "Ã¤" -> "ä", // ä
      "Â " -> " ")      // non-breaking space
    val fixed = pairs.foldLeft(t) { case (c, (from, to)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(from), to)
    }
    docs.select(col(idCol),
      // the lead-byte count must widen BEFORE the 1e6 multiply — LENGTH is
      // 32-bit and a heavily damaged multi-KB doc overflows INT
      when(length(t) > 0, expr(s"1000000 * CAST(LENGTH($textCol) - LENGTH(REGEXP_REPLACE($textCol, '[ÃÂ]', '')) AS BIGINT) DIV LENGTH($textCol)")
        .cast("bigint")).otherwise(lit(0L)).as("mojibake_ppm"),
      fixed.as("fixed_text"))
  }

  /** Tokenizer-vocabulary coverage: per-document in-vocabulary and
    * out-of-vocabulary token statistics against a vocab table (one `token`
    * per row) — the standard pre-flight check before committing a
    * tokenizer to a corpus (high OOV ppm = wrong language mix, encoding
    * damage, or a vocab trained on the wrong distribution).
    *
    * Scale: one token explode, one equi-join on the token, one groupBy
    * doc. The vocab side is vocabulary-sized by definition (a tokenizer
    * ships 32k-256k entries) so AQE broadcasts it — never a forced hint,
    * so an unexpectedly huge vocab degrades to a shuffle join. */
  def vocabCoverage(docs: DataFrame, vocab: DataFrame,
                    idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(lower(col(textCol)), " ")).as("__w"))
    val v = vocab.select(lower(col("token")).as("__w")).distinct()
      .withColumn("__in", lit(1))
    toks.join(v, Seq("__w"), "left")
      .groupBy(col(idCol))
      .agg(count("*").cast("bigint").as("n_tokens"),
        sum(when(col("__in").isNotNull, 1L).otherwise(0L))
          .cast("bigint").as("in_vocab"),
        expr("CAST((1000000 * SUM(CASE WHEN __in IS NULL THEN 1 ELSE 0 END)) DIV COUNT(*) AS BIGINT)")
          .as("oov_ppm"))
  }

  /** DSIR-style hashed n-gram importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score every
    * corpus document by how much more it looks like a TARGET distribution
    * (e.g. wiki/books) than the RAW crawl distribution, using hashed
    * unigram+bigram bucket counts as the feature space. DSIR's weight is
    *   log w(doc) = SUM_f log p_target(f) - log p_raw(f);
    * this engine keeps the per-feature likelihoods as exact integer
    * parts-per-million ratios instead of floating logs (the lmScore trick —
    * replayable bit-for-bit across engines, no libm):
    *
    *   ppm_t(f) = (1e6 * (c_t(f) + 1)) DIV (C_t + B)     add-one over B buckets
    *   score(doc) = SUM over gram occurrences (ppm_t(f) - ppm_r(f))
    *
    * i.e. a linear classifier over hashed n-gram counts — the same family
    * as fastText-style quality filters — whose per-feature sign matches the
    * DSIR log-ratio's. Downstream selection is `ORDER BY dsir_score DESC,
    * id LIMIT k` (deterministic resampling); k is the token budget.
    *
    * Scale: both model sides aggregate once (partial+final count on the
    * bucket id) and are bounded at B rows BY CONSTRUCTION — the hash space
    * is the vocabulary cap, so the model join side never grows with the
    * corpus and AQE may broadcast it (never forced). The corpus side is one
    * gram explode, one join on the bucket id, one groupBy doc: all shuffle
    * keys are 8-byte ints regardless of text size. */
  def dsirWeights(corpus: DataFrame, target: DataFrame, raw: DataFrame,
                  idCol: String, textCol: String, buckets: Int = 1 << 17): DataFrame = {
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    graft.functions.TajoFunctions.register(corpus.sparkSession)
    // native one-pass gram hashing (graft.functions.GramHashes) — same
    // poly31 spec the DuckDB oracle folds over the gram strings, but no
    // gram string is ever materialized and no interpreted lambda runs
    // (bit-equality property-tested in PropertiesSpec)
    def feats(df: DataFrame, extra: Column*) = df
      .withColumn("__h", explode(expr(s"gram_hashes_upto(LOWER($textCol), 2)")))
      .select(extra :+ expr(s"__h % $buckets").as("__f"): _*)
    def model(df: DataFrame, cntCol: String, totCol: String) = {
      // the gram total is the sum of the at-most-B-row count table — never
      // a second explode pass over the corpus
      val cnt = feats(df).groupBy(col("__f")).agg(count("*").cast("bigint").as(cntCol))
      (cnt, cnt.agg(coalesce(sum(col(cntCol)), lit(0L)).cast("bigint").as(totCol)))
    }
    // the corpus reduces to per-(doc, bucket) counts FIRST — the only
    // corpus-sized shuffle carries distinct (id, bucket) pairs (bounded by
    // docs x min(grams, B)), not gram occurrences, and the per-occurrence
    // weight becomes cnt * weight(bucket)
    val docFeats = feats(corpus, col(idCol))
      .groupBy(col(idCol), col("__f"))
      .agg(count("*").cast("bigint").as("__c"))
    // total columns spelled with distinct letters, not just distinct case —
    // Spark resolves identifiers case-insensitively
    val (tCnt, tTot) = model(target, "__ct", "__ttot")
    // raw model: when the raw distribution IS the corpus (the common DSIR
    // setup), fold docFeats again instead of re-exploding the whole corpus
    val (rCnt, rTot) =
      if (raw eq corpus)
        (docFeats.groupBy(col("__f")).agg(sum(col("__c")).cast("bigint").as("__cr")),
          docFeats.agg(coalesce(sum(col("__c")), lit(0L)).cast("bigint").as("__rtot")))
      else model(raw, "__cr", "__rtot")
    docFeats
      .join(tCnt, Seq("__f"), "left")
      .join(rCnt, Seq("__f"), "left")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).cast("bigint").as("n_feats"),
        expr(s"""SUM(__c * ((1000000 * (COALESCE(__ct, 0) + 1)) DIV (__ttot + $buckets)
                |  - (1000000 * (COALESCE(__cr, 0) + 1)) DIV (__rtot + $buckets)))"""
          .stripMargin).cast("bigint").as("dsir_score"))
      .join(corpus.select(col(idCol)), Seq(idCol), "right")
      .select(col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        col("dsir_score"))
  }

  /** Corpus-level n-gram heavy hitters: the exact top-k most frequent
    * word n-grams with a (count desc, ngram asc) total order.
    *
    * Scale: per-row n-gram explode (narrow), one partial+final count
    * aggregation on the n-gram, then top-k — Spark plans the final step as
    * TakeOrderedAndProject, so only k rows per partition are held and only
    * k rows reach the driver side of the sort, never a full global sort. */
  def topNgrams(docs: DataFrame, idCol: String, textCol: String,
                n: Int = 2, k: Int = 20): DataFrame = {
    require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1, got n=$n k=$k")
    // Tokenize once per row; the transform lambda must only index into the
    // materialized array — inlining SPLIT into the lambda re-tokenizes the
    // document per n-gram position (O(tokens^2) per doc).
    val grams = docs
      .select(split(lower(col(textCol)), " ").as("__w"))
      .select(explode(expr(
        s"""CASE WHEN SIZE(__w) >= $n
           |  THEN TRANSFORM(SEQUENCE(0, SIZE(__w) - $n),
           |    i -> ARRAY_JOIN(SLICE(__w, i + 1, $n), ' '))
           |  ELSE ARRAY() END""".stripMargin)).as("ngram"))
    grams.groupBy("ngram").agg(count("*").cast("bigint").as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(k)
  }

  /** Collocation / phrase detection: rank adjacent lowercased word pairs
    * by the word2vec phrase score (Mikolov et al. 2013),
    * `(f_ab - delta) * N / (f_a * f_b)`, in integer micro units. The
    * score is computed as two integer divisions —
    * `s1 = (f_ab - delta) * 1e6 DIV f_a` (s1 <= 1e6 because f_ab <= f_a),
    * then `score_ppm = s1 * N DIV f_b`, evaluated in the exact split form
    * `s1 * (N DIV f_b) + (s1 * (N MOD f_b)) DIV f_b` so the largest
    * intermediate is s1 * (N DIV f_b) — i.e. at most the SCORE itself,
    * never s1 * N. The ranking replays bit-identically in SQL (the oracle
    * may spell the plain `s1 * N DIV f_b`; the split form is the same
    * value by the division identity). int64-safe whenever every reported
    * score is below 2^63 — guaranteed for corpora up to ~9.2e12 tokens,
    * and far beyond for any pair whose words aren't vanishingly rare;
    * past that, raise `delta` (score ~ (f_ab-delta)*N/(f_a*f_b), so junk
    * pairs of two ultra-rare words are what explode first). Pairs seen
    * `delta` times or fewer are discarded (the discounting that kills
    * rare-pair noise). Adjacency is over the non-empty token sequence.
    *
    * Scale: two partial+final counts (unigrams, bigrams) — the token
    * total N is SUM(f) over the already-built unigram table, NOT a third
    * corpus scan — and two equi-joins of the bigram table against the
    * unigram table (both shuffle-partitioned on the word — nothing
    * data-sized is force-broadcast); top-k is TakeOrderedAndProject. */
  def collocations(docs: DataFrame, idCol: String, textCol: String,
                   delta: Long = 5L, k: Int = 30): DataFrame = {
    require(delta >= 0 && k >= 1, s"need delta >= 0 and k >= 1, got $delta/$k")
    val toks = docs.select(
      expr(s"FILTER(SPLIT(LOWER($textCol), ' '), t -> t <> '')").as("__w"))
    val uni = toks.select(explode(col("__w")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    val bi = toks.select(explode(expr(
      """CASE WHEN SIZE(__w) >= 2
        |  THEN TRANSFORM(SEQUENCE(0, SIZE(__w) - 2),
        |    i -> STRUCT(__w[i] AS w1, __w[i + 1] AS w2))
        |  ELSE ARRAY() END""".stripMargin)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("fab"))
    val n = uni.agg(sum(col("f")).cast("long").as("n_tokens"))
    bi.filter(col("fab") > delta)
      .join(uni.select(col("w").as("w1"), col("f").as("fa")), "w1")
      .join(uni.select(col("w").as("w2"), col("f").as("fb")), "w2")
      .crossJoin(broadcast(n))
      .withColumn("__s1", expr(s"(fab - $delta) * 1000000 DIV fa"))
      .withColumn("score_ppm", expr(
        "__s1 * (n_tokens DIV fb) + (__s1 * (n_tokens % fb)) DIV fb"))
      .select(col("w1"), col("w2"), col("fab").cast("bigint").as("fab"),
        col("score_ppm").cast("bigint").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Inverted-index build: per term, document frequency, total term
    * frequency, and a CAPPED posting list — the top `k` documents by
    * (tf DESC, id ASC), fingerprinted as md5 over the comma-joined id
    * sequence so the full ordering is oracle-checkable without comparing
    * array cells. The index-shard build step of a search/retrieval
    * pipeline (BM25-style retrieval needs exactly (df, tf, postings)).
    *
    * Scale: one partial+final (term, doc) count, one partial+final
    * per-term stat agg, and a PARTITIONED window for the cap — Spark
    * rewrites the rank filter into WindowGroupLimit, so only k rows per
    * term survive the sort (plan-pinned). Posting lists are bounded at k
    * BY CONSTRUCTION — no term, however common, yields an unbounded row.
    * The ordered fingerprint avoids collect_list's nondeterminism: the
    * struct array sorts by (-tf, id) before joining, bit-equal to the
    * oracle's ORDER BY inside string_agg. */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1)
    val tf = docs.select(col(idCol).as("__d"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term"), col("__d")).agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
    val postings = tf
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("tf").desc, col("__d"))))
      .filter(col("rk") <= k)
      .groupBy(col("term"))
      .agg(md5(concat_ws(",",
        transform(sort_array(collect_list(struct((-col("tf")).as("nt"), col("__d").as("d")))),
          x => x.getField("d").cast("string")))).as("postings_md5"))
    stats.join(postings, Seq("term"))
  }

  /** Integer BM25 variant ("bm25-lite"): rank documents for a set of query
    * terms with the BM25 tf saturation + length normalization shape, in
    * parts-per-million BIGINT arithmetic so scoring replays bit-for-bit in
    * any engine:
    *
    *   avgdl_micro = (1e6 · Σdl) DIV n_docs
    *   dl_ppm      = (1e6 · dl · 1e6) DIV avgdl_micro          (dl/avgdl)
    *   dlnorm      = (1e6 - b) + (b · dl_ppm) DIV 1e6
    *   tfc         = (tf · (1e6 + k1) · 1e6) DIV (tf · 1e6 + (k1 · dlnorm) DIV 1e6)
    *   idf         = (1e6 · (n_docs - df + 1)) DIV (df + 1)
    *   score       = Σ_terms (idf · tfc) DIV 1e6
    *
    * The idf is the integer rational surrogate for the float
    * ln((N-df+.5)/(df+.5)) — same monotone ordering in df, no libm ln in
    * the pipeline (cross-engine ln is NOT bit-stable; the same trade as
    * lmScore/dsirWeights). Overflow bounds: idf ≤ 1e6·N, tfc ≤ 2.2e6, so
    * BIGINT holds through N ≈ 10^12 docs; per-doc tf and dl are CLAMPED
    * (LEAST at 4e6 / 8e6) before entering the products — tf·2.2e6·1e6 and
    * 1e6·dl·1e6 would overflow BIGINT (an ANSI-mode job abort) for a
    * pathological multi-million-token spam doc, and BM25's saturation
    * makes the clamp a no-op semantically (tfc is flat long before 4e6).
    *
    * Scale: query terms and their df table are query-sized broadcasts; the
    * corpus contributes one token explode filtered BY the broadcast (a
    * semi-join at scan speed — only query-term occurrences survive), one
    * doc-length aggregation, and the final per-doc sum; top-k plans as
    * TakeOrderedAndProject, never a global sort. */
  def bm25Lite(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: DataFrame, k1Ppm: Long = 1200000L,
               bPpm: Long = 750000L, topK: Int = 20): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(col(textCol), " ")).as("term"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val tf = toks.join(broadcast(queryTerms), Seq("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    bm25ScoreParts(tf, dl, idCol, k1Ppm, bPpm, topK)
  }

  /** The ONE copy of the integer BM25 scoring chain, shared by [[bm25Lite]]
    * (which derives `tf`/`dl` from corpus text) and
    * [[Retrieval.queryBm25Index]] (which reads them from a persisted
    * postings table) — the bit-identical-scores claim between the two
    * spellings holds by construction because this is the same plan tail.
    * Inputs: `tf` = (idCol, term, tf) restricted to the query terms but
    * covering EVERY matching document; `dl` = (idCol, dl) covering every
    * corpus document (its aggregate supplies n_docs/avgdl).
    *
    * The tf ⋈ dl join supplies each matching document's `dl` to the
    * length normalization, and every statistic — df included — derives
    * from the joined rows. Both callers hand in tables that cover the
    * same documents: bm25Lite derives both from the same tokens, and the
    * persisted index commits postings and doclens in one store version
    * ([[Retrieval]]), so the join drops nothing. */
  private[operators] def bm25ScoreParts(tf: DataFrame, dl: DataFrame,
                                        idCol: String, k1Ppm: Long, bPpm: Long,
                                        topK: Int): DataFrame = {
    val totals = dl.agg(sum(col("dl")).as("total_tok"), count(lit(1)).as("n_docs"))
    val joined = tf.join(dl, Seq(idCol))
    val dfreq = joined.groupBy(col("term")).agg(count(lit(1)).as("df"))
    joined
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(totals))
      // identical to (1e6*total_tok) DIV n_docs but never forms the 1e6·Σdl
      // product (BIGINT overflow past 9.2e12 total tokens): with
      // total = q·n + r, (1e6·total) DIV n = 1e6·q + (1e6·r) DIV n exactly
      .withColumn("avgdl_micro", expr(
        "1000000 * (total_tok DIV n_docs) + (1000000 * (total_tok % n_docs)) DIV n_docs"))
      .withColumn("__dl", expr("LEAST(dl, 8000000L)"))
      .withColumn("__tf", expr("LEAST(tf, 4000000L)"))
      .withColumn("dl_ppm", expr("(1000000 * __dl * 1000000) DIV avgdl_micro"))
      .withColumn("dlnorm", expr(s"(1000000 - $bPpm) + ($bPpm * dl_ppm) DIV 1000000"))
      .withColumn("tfc", expr(
        s"(__tf * ${1000000L + k1Ppm} * 1000000) DIV (__tf * 1000000 + ($k1Ppm * dlnorm) DIV 1000000)"))
      .withColumn("idf", expr("(1000000 * (n_docs - df + 1)) DIV (df + 1)"))
      .withColumn("s", expr("(idf * tfc) DIV 1000000"))
      .groupBy(col(idCol)).agg(sum(col("s")).as("score_ppm"))
      .orderBy(col("score_ppm").desc, col(idCol))
      .limit(topK)
  }

  /** Reciprocal-rank fusion of candidate rankings from heterogeneous
    * retrievers (the standard hybrid lexical+vector recipe: fuse a BM25
    * top-k with an ANN cosine top-k without ever putting their scores on
    * one scale — only RANKS matter). Each input is (candidates, scoreCol):
    * higher score = better, ties broken by ascending id so the rank — and
    * therefore the fused score — is deterministic on every engine. The
    * fused score is the integer-exact ppm form of Σ_lists 1/(kRrf + rank):
    * Σ 1000000 DIV (kRrf + rank), so the DuckDB oracle replays it
    * digit-for-digit (same ln-free trade as bm25Lite/lmScore); `n_lists`
    * reports how many retrievers surfaced each id (2 = found by both — the
    * usual confidence signal). Output: (id, rrf_ppm, n_lists), best first.
    *
    * Scale: inputs are RETRIEVAL OUTPUTS — top-k candidate lists already
    * bounded by their producers (bm25Lite's TakeOrderedAndProject, an ANN
    * query's per-probe top-k) — so the unpartitioned rank window runs over
    * k rows per list, not the corpus (the same bounded-window discipline
    * as the RangeJoin bucket CDF); never feed a corpus-sized frame. The
    * fuse itself is one union + one k-sized aggregation. */
  def reciprocalRankFusion(rankings: Seq[(DataFrame, String)], idCol: String,
                           kRrf: Int = 60, topK: Int = 20): DataFrame = {
    require(rankings.nonEmpty, "reciprocalRankFusion: at least one ranking")
    require(kRrf > 0 && topK > 0, "reciprocalRankFusion: kRrf and topK must be positive")
    import org.apache.spark.sql.expressions.Window
    val contribs = rankings.map { case (cands, scoreCol) =>
      cands
        .withColumn("__rank", row_number()
          .over(Window.orderBy(col(scoreCol).desc, col(idCol))).cast("bigint"))
        .select(col(idCol),
          expr(s"1000000 DIV ($kRrf + __rank)").as("__contrib"))
    }
    contribs.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(sum(col("__contrib")).as("rrf_ppm"),
        count(lit(1)).cast("bigint").as("n_lists"))
      .orderBy(col("rrf_ppm").desc, col(idCol))
      .limit(topK)
  }
}
