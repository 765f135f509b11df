package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** Text-analysis operators for large-scale training-data pipelines
  * (BASELINE.json north star): token statistics, quality scoring,
  * language-ID heuristic, document fingerprinting. All are narrow
  * per-document transforms built from [[graft.functions.TextFunctions]] —
  * they scale linearly with zero shuffles (the fingerprint min-hash is
  * computed in-row over the shingle array, not by aggregation).
  */
object TextOps extends QueryGroup {

  private val stopEn = Seq("the", "a", "and", "of", "to", "in")
  private val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and"),
    "es" -> Seq("el", "la", "que"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "les", "et"))

  override def queries: Map[String, Q] = Map(
    // token counting + quality ratios (length/stopword/type-token).
    "text_stats" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("toks", TF.tokens($"text"))
        .select(
          $"doc_id",
          length($"text").cast("long").as("n_chars_actual"),
          size($"toks").cast("long").as("n_tokens"),
          size(array_distinct($"toks")).cast("long").as("n_distinct_tokens"),
          TF.typeTokenRatio($"toks").as("type_token_ratio"),
          TF.stopwordRatio($"toks", stopEn).as("stopword_ratio"))
    }),

    // language-ID via stopword-hit scoring with deterministic tiebreak.
    "text_langid" -> ((s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents")
        .withColumn("toks", TF.tokens($"text"))
      val scored = langStops.foldLeft(base) { case (df, (lang, stops)) =>
        df.withColumn(s"score_$lang", TF.langScore($"toks", stops))
      }
      val best = langStops.map { case (lang, _) => col(s"score_$lang") }
        .reduce((a, b) => greatest(a, b))
      scored.select(
        $"doc_id",
        when($"score_en" === best, "en")
          .when($"score_es" === best, "es")
          .when($"score_de" === best, "de")
          .otherwise("fr").as("lang_pred"),
        $"score_en", $"score_es", $"score_de", $"score_fr")
    }),

    // token counting, BPE-ish: a subword-style lexer regex (letter runs |
    // single digits | single punctuation — digits and punctuation split
    // like BPE pre-tokenizers do) alongside the whitespace count;
    // `fertility` (subword/word ratio) is the standard tokenizer-cost
    // metric a training pipeline budgets by. Alternatives are disjoint by
    // first character, so Java and RE2 regex engines match identically.
    "text_tokens_bpe" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id",
          size(TF.tokens($"text")).cast("long").as("n_ws_tokens"),
          size(regexp_extract_all($"text", lit(BpePattern), lit(0)))
            .cast("long").as("n_bpe_tokens"))
        .withColumn("fertility",
          when($"n_ws_tokens" > 0,
            round($"n_bpe_tokens".cast("double") / $"n_ws_tokens", 9)))
    }),

    // language-ID via character n-grams (the literal n-gram heuristic;
    // the stopword-hit variant above stays as the word-level cousin).
    // NOTE on the test corpus: documents.text is synthetic English-ish
    // REGARDLESS of the lang label (the label is random metadata), so no
    // classifier can beat chance here — the oracle pins the scoring
    // mechanics exactly; on real multilingual text this is the standard
    // profile heuristic.
    // score = count of characteristic trigram occurrences per language
    // over the ASCII-letter projection of the text (extraction strips
    // non-[A-Za-z space] BEFORE lowercasing, so Unicode case mapping can
    // never perturb the trigram stream — both engines see identical
    // bytes). A doc whose best score is < 3 has essentially no latin
    // trigrams and is classified zh (the CJK member of the corpus).
    "text_langid_ngram" -> ((s, dir) =>
      // widened past SpreadDocKernel: 7.6 s single-task ngram_hits stage
      // at 20× without it
      widen(t(s, dir, "documents"), SpreadDocKernel)(classifyLangNgram)),

    // TRUE merge-table BPE (greedy lowest-rank merges over the learned
    // embedded vocab — graft.functions.Bpe): per doc, word count, BPE
    // token count, merges applied, and an order-sensitive md5 over the
    // full token sequence, so any divergence in any token of any word
    // breaks the hash. Narrow per-row kernel, zero shuffle; the per-thread
    // word cache makes Zipf text ~one encode per distinct word.
    "text_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      widen(t(s, dir, "documents"))(_
        .withColumn("bpe", graft.functions.native.bpe_tokens($"text"))
        .withColumn("words", expr(
          "transform(regexp_extract_all(text, '[A-Za-z]+', 0), w -> lower(w))"))
        .select($"doc_id",
          size($"words").cast("long").as("n_words"),
          size($"bpe").cast("long").as("n_tokens"),
          (aggregate($"words", lit(0L), (acc, w) => acc + length(w) + 1)
            - size($"bpe")).cast("long").as("n_merges"),
          when(size($"bpe") === 0, lit(null).cast("string"))
            .otherwise(md5(concat_ws("|", $"bpe"))).as("tokens_md5")))
    }),

    // tf-idf keyword extraction: top-3 terms per doc by term frequency ×
    // inverse document frequency. Uses the EXACT-arithmetic idf variant
    // N/df instead of log(N/df) — same ranking (log is monotone), but
    // counts and one IEEE division are bit-identical cross-engine while
    // log is libm-dependent (the text_lm_surprisal rationale). Plan: two
    // count aggregations (tf by (doc, term), df by term), a 1-row count
    // broadcast, one per-doc top-k window — every shuffle key-true.
    "text_tfidf_terms" -> ((s, dir) => {
      import s.implicits._
      val terms = widen(t(s, dir, "documents"), SpreadDocKernel)(
        _.select($"doc_id", explode(TF.tokens($"text")).as("term")))
      val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        .transform(graft.functions.Materialize.cut) // feeds df AND the join below
      // df DERIVED from tf: tf has exactly one row per (doc, term), so
      // count(*) per term ≡ countDistinct(doc_id) over the raw terms —
      // the second full tokenize+explode+distinct pass of the corpus is
      // replaced by a count over the already-aggregated (and much
      // smaller) tf relation (guide §2.3/§2.4: aggregate once, derive).
      val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"tfidf".desc, $"term".asc)
      tf.join(df, "term").crossJoin(broadcast(n))
        .withColumn("tfidf", ($"tf" * $"n_docs").cast("double") / $"df")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 3)
        .select($"doc_id", $"rk", $"term", $"tf", $"df", $"tfidf")
    }),

    // statistical-LM quality score (the CCNet/KenLM signal shape): a
    // bigram model TRAINED ON THE CORPUS scores every document by its
    // mean inverse transition probability Σ c(w1)/c(w1·w2) / n — high
    // values = improbable word sequences = noise; low = formulaic. The
    // score is a monotone analog of perplexity computed WITHOUT
    // transcendentals on purpose: log/exp differ by ulps across libm
    // implementations, while counts, IEEE division, and the exact
    // decimal sum (dsum) are bit-identical in both engines — so the
    // oracle hash pins every score. Plan: two count aggregations build
    // the model, one equi-join scores (model broadcast when small; at
    // corpus scale it is an ordinary key join), one fold per doc.
    "text_lm_surprisal" -> ((s, dir) => {
      import s.implicits._
      // widened past SpreadDocKernel: the r18 20× stage table showed this
      // query fully serial on the 1-task scan (6.5 s model build + 11.4 s
      // scoring, both single-task); the byte gate keeps sf0.1 narrow (r17
      // measured an ungated repartition slower there)
      val big = widen(t(s, dir, "documents"), SpreadDocKernel)(
          _.select($"doc_id", TF.tokens($"text").as("toks")))
        .filter(size($"toks") >= 2)
        .select($"doc_id", explode(expr(
          "transform(sequence(0, size(toks)-2)," +
            " i -> struct(toks[i] AS w1, toks[i+1] AS w2))")).as("b"))
        .select($"doc_id", $"b.w1", $"b.w2")
      // ONE model subtree carrying both counts: c1 (bigrams starting at
      // w1) = sum over w2 of c12, attached as an unordered window over
      // the aggregated model rows (exact integer arithmetic,
      // value-identical to a separate groupBy(w1) pass). vs r17's shape
      // (bigCounts Materialize.cut feeding a derived-c1 aggregate + TWO
      // joins): the cut barrier cost a fixed ~0.45 s at sf0.1 — the one
      // driver-measured regression of r17 — while WITHOUT a cut the c1
      // branch re-exploded the corpus (no exchange reuse, verified in
      // plans/r18/explain_lm_nocut_sf2.txt: 3 scans). The window keeps
      // the model single-subtree (2 corpus passes total at any scale),
      // needs no barrier, and replaces two model joins with one.
      val model = big.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
        .withColumn("c1", sum($"c12").over(Window.partitionBy($"w1")))
      big.join(model, Seq("w1", "w2"))
        .withColumn("inv_p", $"c1".cast("double") / $"c12")
        .groupBy($"doc_id")
        // dsumWide, not dsum: inv_p = c1/c12 is count-derived and grows
        // with corpus size (c1 ~ corpus tokens for a stopword with a rare
        // successor), so at 100 TB it can blow FixedSum's scale-9 term
        // bound (~9.2e9); the decimal buffer has no such bound
        .agg(count(lit(1)).as("n_bigrams"), dsumWide($"inv_p", 9).as("sum_inv_p"))
        .select($"doc_id", $"n_bigrams",
          ($"sum_inv_p" / $"n_bigrams").as("mean_inv_p"))
    }),

    // document fingerprint: min-hash of 3-token shingles (content-defined;
    // stable under document re-chunking). fp_int is usable as a shard key.
    // Computed entirely in-row: shingle array → min md5, no explode/groupBy.
    "text_fingerprint" -> ((s, dir) => {
      import s.implicits._
      widen(t(s, dir, "documents"))(
          _.select($"doc_id", TF.shingles3($"text").as("sharr")))
        .filter(size($"sharr") >= 1)
        .select($"doc_id", TF.fingerprint($"sharr").as("fingerprint"))
        .select($"doc_id", $"fingerprint",
          conv(substring($"fingerprint", 1, 8), 16, 10).cast("long").as("fp_int"))
    })
  )

  // BPE-ish lexer: letter runs, single digits, single ASCII punctuation.
  // The symbol class is a POSITIVE ASCII range (not a negated class): a
  // negated class would count non-BMP characters per UTF-16 code unit in
  // java.util.regex (2 tokens per emoji) but per rune in DuckDB's RE2
  // (1 token), breaking oracle parity on astral text. ASCII-only classes
  // match identically in both engines; other characters count in neither.
  private val BpePattern =
    "[A-Za-z]+|[0-9]|[\\x21-\\x2f\\x3a-\\x40\\x5b-\\x60\\x7b-\\x7e]"

  private def sqlToks = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** The text_langid_ngram classifier over any `(doc_id, text)` frame —
    * factored out of the query so fixture specs can drive it on REAL
    * multilingual sentences (TextLangFixtureSpec), since the synthetic
    * corpus pins only the scoring mechanics. All four language counts
    * come from ONE pass of the native multi-profile kernel
    * (native.ngram_profile_hits) over the ASCII-letter projection: the
    * HOF spelling is interpreted and O(len²) per row (143 s at sf0.1).
    * The counts array is projected once and read by index, so the
    * kernel runs once per row. */
  def classifyLangNgram(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val hits = graft.functions.native.ngram_profile_hits(
      graft.functions.native.ascii_letters_lower(col("text")), NgramProfiles.map(_._2))
    val scored = df.select(col("doc_id"), hits.as("__h"))
      .select(col("doc_id") +: NgramProfiles.zipWithIndex.map { case ((lang, _), i) =>
        col("__h").getItem(i).as(s"ng_$lang")
      }: _*)
    val best = NgramProfiles.map { case (l, _) => col(s"ng_$l") }
      .reduce((a, b) => greatest(a, b))
    scored.select(
      col("doc_id"),
      when(best < 3, "zh")
        .when(col("ng_en") === best, "en")
        .when(col("ng_es") === best, "es")
        .when(col("ng_de") === best, "de")
        .otherwise("fr").as("lang_pred"),
      col("ng_en"), col("ng_es"), col("ng_de"), col("ng_fr"))
  }

  // characteristic character trigrams per latin language (space-padded
  // entries catch word boundaries); identical constant on both sides
  private val NgramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "ing", "ion", " th", "he "),
    "es" -> Seq("que", "los", " de", "ado", "la ", "os "),
    "de" -> Seq("der", "und", "sch", "ein", "ich", "en "),
    "fr" -> Seq("les", "ent", " le", "des", "ion", "la "))
  // ASCII-letter projection: strip-then-lower so case mapping is pure
  // ASCII. The Spark side is the one-pass native.ascii_letters_lower
  // kernel (KernelProps pins it to Spark's regexp_replace + lower);
  // DuckDB needs the explicit 'g' flag for replace-all.
  private val CleanDuck = "lower(regexp_replace(text, '[^A-Za-z ]', '', 'g'))"

  // DuckDB oracle for text_bpe_merges: a recursive CTE applying ONE merge
  // per step — leftmost occurrence of the lowest-rank adjacent pair —
  // which for a well-formed (learned) table provably reaches the same
  // token sequence as the kernel's all-at-once scan (Bpe scaladoc proves
  // the equivalence; BpeSpec pins it on random inputs). The merge table
  // is interpolated from Bpe.Default so oracle and kernel can never skew.
  private[queries] def bpeMergeList: String =
    graft.functions.Bpe.Default
      .map { case (l, r) => s"'$l $r'" }.mkString("[", ", ", "]")
  // rank vector of a token list: 1-based merge rank per adjacent pair,
  // 999999 when the pair is not in the table.
  private[queries] def bpeRs(toks: String): String =
    s"""list_transform(range(1, len($toks)),
       |      i -> CASE WHEN list_position($bpeMergeList, $toks[i] || ' ' || $toks[i+1]) = 0
       |                THEN 999999
       |                ELSE list_position($bpeMergeList, $toks[i] || ' ' || $toks[i+1]) END)""".stripMargin

  override def oracle: Map[String, String] = Map(
    "text_stats" ->
      s"""SELECT doc_id,
         |  len(text) AS n_chars_actual,
         |  len(toks) AS n_tokens,
         |  len(list_distinct(toks)) AS n_distinct_tokens,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS type_token_ratio,
         |  CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
         |    / len(toks) AS stopword_ratio
         |FROM (SELECT doc_id, text, $sqlToks AS toks FROM documents)""".stripMargin,

    "text_langid" ->
      s"""SELECT doc_id,
         |  CASE WHEN score_en = best THEN 'en'
         |       WHEN score_es = best THEN 'es'
         |       WHEN score_de = best THEN 'de'
         |       ELSE 'fr' END AS lang_pred,
         |  score_en, score_es, score_de, score_fr
         |FROM (
         |  SELECT doc_id, score_en, score_es, score_de, score_fr,
         |    greatest(score_en, score_es, score_de, score_fr) AS best
         |  FROM (
         |    SELECT doc_id,
         |      CAST(len(list_filter(toks, x -> x IN ('the','a','and'))) AS BIGINT) AS score_en,
         |      CAST(len(list_filter(toks, x -> x IN ('el','la','que'))) AS BIGINT) AS score_es,
         |      CAST(len(list_filter(toks, x -> x IN ('der','die','und'))) AS BIGINT) AS score_de,
         |      CAST(len(list_filter(toks, x -> x IN ('le','les','et'))) AS BIGINT) AS score_fr
         |    FROM (SELECT doc_id, $sqlToks AS toks FROM documents)))""".stripMargin,

    "text_tokens_bpe" ->
      s"""SELECT doc_id, n_ws_tokens, n_bpe_tokens,
         |  CASE WHEN n_ws_tokens > 0
         |    THEN ROUND(CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens, 9) END AS fertility
         |FROM (
         |  SELECT doc_id,
         |    len($sqlToks) AS n_ws_tokens,
         |    len(regexp_extract_all(text,
         |      '[A-Za-z]+|[0-9]|[\\x21-\\x2f\\x3a-\\x40\\x5b-\\x60\\x7b-\\x7e]'))
         |      AS n_bpe_tokens
         |  FROM documents)""".stripMargin,

    "text_langid_ngram" -> {
      def score(tris: Seq[String]) =
        s"""CAST(len(list_filter(
           |    [substr(c, i, 3) for i in range(1, greatest(len(c) - 2, 0) + 1)],
           |    t -> t IN (${tris.map(t => s"'$t'").mkString(", ")}))) AS BIGINT)""".stripMargin
      s"""SELECT doc_id,
         |  CASE WHEN best < 3 THEN 'zh'
         |       WHEN ng_en = best THEN 'en'
         |       WHEN ng_es = best THEN 'es'
         |       WHEN ng_de = best THEN 'de'
         |       ELSE 'fr' END AS lang_pred,
         |  ng_en, ng_es, ng_de, ng_fr
         |FROM (
         |  SELECT doc_id, ng_en, ng_es, ng_de, ng_fr,
         |    greatest(ng_en, ng_es, ng_de, ng_fr) AS best
         |  FROM (
         |    SELECT doc_id,
         |      ${NgramProfiles.map { case (l, tris) =>
               s"${score(tris)} AS ng_$l" }.mkString(",\n      ")}
         |    FROM (SELECT doc_id, $CleanDuck AS c FROM documents)))""".stripMargin
    },

    "text_bpe_merges" ->
      s"""WITH RECURSIVE
         |ws AS (SELECT doc_id, regexp_extract_all(text, '[A-Za-z]+') AS w FROM documents),
         |words AS (
         |  SELECT doc_id, i AS wi, lower(w[i]) AS word
         |  FROM ws, UNNEST(generate_series(1, len(w))) t(i)),
         |enc AS (
         |  SELECT doc_id, wi,
         |    [word[i:i] for i in range(1, 1 + len(word))] || ['_'] AS toks
         |  FROM words
         |  UNION ALL
         |  SELECT doc_id, wi,
         |    toks[1:bi-1] || [toks[bi] || toks[bi+1]] || toks[bi+2:] AS toks
         |  FROM (
         |    SELECT doc_id, wi, toks,
         |      list_position(rs, list_min(rs)) AS bi, list_min(rs) AS mn
         |    FROM (SELECT doc_id, wi, toks, ${bpeRs("toks")} AS rs FROM enc))
         |  WHERE mn < 999999),
         |fin AS (
         |  SELECT doc_id, wi, toks
         |  FROM (SELECT doc_id, wi, toks, list_min(${bpeRs("toks")}) AS mn FROM enc)
         |  WHERE mn IS NULL OR mn = 999999),
         |agg AS (
         |  SELECT f.doc_id,
         |    COUNT(*) AS n_words,
         |    CAST(SUM(len(f.toks)) AS BIGINT) AS n_tokens,
         |    CAST(SUM(len(w.word) + 1 - len(f.toks)) AS BIGINT) AS n_merges,
         |    md5(string_agg(array_to_string(f.toks, '|'), '|' ORDER BY f.wi)) AS tokens_md5
         |  FROM fin f JOIN words w ON f.doc_id = w.doc_id AND f.wi = w.wi
         |  GROUP BY f.doc_id)
         |SELECT d.doc_id,
         |  COALESCE(a.n_words, 0) AS n_words,
         |  COALESCE(a.n_tokens, 0) AS n_tokens,
         |  COALESCE(a.n_merges, 0) AS n_merges,
         |  a.tokens_md5
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "text_tfidf_terms" ->
      s"""WITH terms AS (
         |  SELECT doc_id, unnest(toks) AS term
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id, rk, term, tf, df, tfidf
         |FROM (
         |  SELECT doc_id, term, tf, df, tfidf,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rk
         |  FROM (
         |    SELECT doc_id, term, tf, df,
         |      CAST(tf * n_docs AS DOUBLE) / df AS tfidf
         |    FROM tf JOIN df USING (term) CROSS JOIN n))
         |WHERE rk <= 3""".stripMargin,

    "text_lm_surprisal" ->
      s"""WITH big AS (
         |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents
         |        WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 2),
         |    UNNEST(generate_series(1, len(toks) - 1)) t(i)),
         |bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
         |uc AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(SUM(CAST(CAST(c1 AS DOUBLE) / c12 AS DECIMAL(38,9))) AS DOUBLE)
         |    / count(*) AS mean_inv_p
         |FROM big JOIN bc USING (w1, w2) JOIN uc USING (w1)
         |GROUP BY doc_id""".stripMargin,

    "text_fingerprint" ->
      s"""SELECT doc_id, fingerprint,
         |  CAST(('0x' || substr(fingerprint, 1, 8)) AS BIGINT) AS fp_int
         |FROM (
         |  SELECT doc_id, MIN(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         |    AS fingerprint
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents WHERE
         |    len(list_filter(string_split(text, ' '), x -> x <> '')) >= 3),
         |    UNNEST(generate_series(1, len(toks) - 2)) t(i)
         |  GROUP BY doc_id)""".stripMargin
  )
}
