package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable curation transforms shared by the oracle-checked queries
  * (queries/CurationOps) and the end-to-end pipeline example
  * (examples/TrainingDataPipeline): PII scrubbing, Gopher-style
  * repetition metrics, GPT-style sequence packing. Kept as plain
  * Column/DataFrame combinators so callers compose them into any plan.
  */
object Curation {

  // Patterns restricted to syntax valid in BOTH Java regex (Spark) and
  // RE2 (DuckDB): no lookaround, no backrefs.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  val LongNumRe = "\\b\\d{7,}\\b"

  // text_normalize classes (pure-ASCII ranges — Java and RE2 compile
  // them identically): C0 controls except \t \r \n, plus DEL; and the
  // whitespace-run class the collapse rewrites to single spaces.
  val CtrlRe = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
  val WsRe = "[ \\t\\n\\r]+"

  /** Web-text normalization: Unicode NFC (native.nfc — zero-copy on
    * pure-ASCII rows), strip C0/DEL controls, collapse whitespace runs
    * to single spaces, trim. Stateless per-row column transform — valid
    * on batch and streaming frames alike. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(native.nfc(c), CtrlRe, ""), WsRe, " "))

  /** The C4 + Gopher doc-level heuristic battery over a text column:
    * word count, mean word length, stopword diversity, code-page ('{')
    * and template-page ('lorem ipsum') flags, folded into a keep
    * verdict (queries/CurationOps.quality_heuristics is the oracle-
    * checked instance). Adds `n_words, mean_word_len, n_stop_hits,
    * has_brace, has_lorem, keep`. Stateless per-row plan. */
  def qualityHeuristics(df: DataFrame, textCol: String,
                        minWords: Long, minMeanWordLen: Double,
                        maxMeanWordLen: Double, minStopHits: Long,
                        stops: Seq[String]): DataFrame = {
    val stopsArr = array(stops.map(lit): _*)
    df.withColumn("__toks", native.tokens(col(textCol)))
      .withColumn("n_words", size(col("__toks")).cast("long"))
      .withColumn("__wchars",
        expr("aggregate(__toks, 0L, (a, w) -> a + length(w))"))
      .withColumn("n_stop_hits",
        size(filter(stopsArr, sw => array_contains(col("__toks"), sw)))
          .cast("long"))
      .withColumn("has_brace", col(textCol).contains("{"))
      .withColumn("has_lorem", col(textCol).contains("lorem ipsum"))
      .withColumn("mean_word_len",
        when(col("n_words") > 0,
          round(col("__wchars").cast("double") / col("n_words"), 9)))
      .withColumn("keep",
        // coalesce: with minWords = 0 an empty doc's NULL mean_word_len
        // would leak a three-valued NULL out of a documented boolean
        // verdict (true && NULL = NULL); a no-words doc is a drop
        coalesce(
          col("n_words") >= minWords &&
            col("mean_word_len") >= minMeanWordLen &&
            col("mean_word_len") <= maxMeanWordLen &&
            !col("has_brace") && !col("has_lorem") &&
            col("n_stop_hits") >= minStopHits,
          lit(false)))
      .drop("__toks", "__wchars")
  }

  // text_html_extract patterns — the Java ∩ RE2 dialect: inline (?is)
  // and lazy .*? are supported identically by both engines. Tag names
  // are case-insensitive in HTML, so <SCRIPT> bodies drop too. Script and
  // style bodies are dropped wholesale (their text is not content);
  // comments likewise; every remaining tag becomes a space.
  val ScriptRe = "(?is)<script[^>]*>.*?</script>"
  val StyleRe = "(?is)<style[^>]*>.*?</style>"
  val CommentRe = "(?s)<!--.*?-->"
  val TagRe = "<[^>]+>"
  // entity decode table, applied IN ORDER: '&amp;' must come last or
  // '&amp;lt;' would double-decode to '<' instead of the literal '&lt;'
  // the author wrote. '&nbsp;' decodes to a plain space on purpose (it
  // feeds the whitespace collapse, not a U+00A0 survivor).
  val Entities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Main-text extraction from an HTML column — the WET-style stage a
    * web-crawl pipeline runs before any text analysis: drop script and
    * style bodies, drop comments, replace every tag with a space, decode
    * the six HTML core entities (single-decode, `&amp;` last), collapse
    * whitespace, trim. Stateless per-row transform, batch and streaming
    * alike. */
  def htmlExtract(c: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(regexp_replace(c, ScriptRe, " "), StyleRe, " "),
      CommentRe, " ")
    val noTags = regexp_replace(noBlocks, TagRe, " ")
    val decoded = Entities.foldLeft(noTags) { case (acc, (ent, ch)) =>
      replace(acc, lit(ent), lit(ch))
    }
    trim(regexp_replace(decoded, WsRe, " "))
  }

  /** Chained email → IPv4 → long-digit-run redaction. The chain order
    * prevents double-redaction: digits inside an email or IP are gone
    * before the later passes run. */
  def piiRedact(c: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"),
      LongNumRe, "<NUM>")

  /** Per-doc repetition metrics from a token-array column: returns
    * `(id, n_tokens, dup_word_frac, dup_2gram_frac, top_2gram_frac)`.
    * Distributed-exact via explode + two keyed aggregations — (id, gram)
    * then id — instead of an in-row O(n²) HOF scan. Docs with < 2 tokens
    * have no 2-grams and are dropped (inner join), matching the oracle. */
  def repetitionMetrics(df: DataFrame, idCol: String, toksCol: String): DataFrame = {
    val id = col(idCol)
    val grams = df.select(id, explode(expr(
      s"CASE WHEN size($toksCol) >= 2 THEN transform(sequence(0, size($toksCol)-2)," +
        s" i -> concat($toksCol[i], ' ', $toksCol[i+1])) ELSE array() END")).as("g"))
    val rep = grams.groupBy(id, col("g")).agg(count(lit(1)).as("c"))
      .groupBy(id).agg(
        max(col("c")).as("maxc"), sum(col("c")).as("total"),
        count(lit(1)).as("ndist"))
    df.select(id,
        size(col(toksCol)).cast("long").as("n_tokens"),
        size(array_distinct(col(toksCol))).cast("long").as("nd"))
      .join(rep, idCol)
      .select(id, col("n_tokens"),
        (lit(1.0) - col("nd").cast("double") / col("n_tokens")).as("dup_word_frac"),
        (lit(1.0) - col("ndist").cast("double") / col("total")).as("dup_2gram_frac"),
        (col("maxc").cast("double") / col("total")).as("top_2gram_frac"))
  }

  /** URL canonicalization — the Common-Crawl-style URL dedup key: two
    * renditions of the same resource must map to one string before an
    * exact dedup keyed on it. Rules (each a deterministic column op in
    * the Java∩RE2 regex dialect, so batch, streaming and the DuckDB
    * oracle agree byte-for-byte):
    *  1. drop the fragment;
    *  2. lowercase scheme and authority (never the path — case is
    *     significant there);
    *  3. strip the scheme's OWN default port (http → :80, https →
    *     :443) — never the other way: `https://h:80` is a real
    *     non-default port and must stay distinct;
    *  4. resolve `/seg/../` dot segments, one level per pass (plain
    *     [A-Za-z0-9_-] segments; full RFC 3986 nesting needs a kernel);
    *  5. drop `utm_*` tracking params, sort the survivors (query order
    *     is not semantic), drop the `?` if nothing survives.
    * Malformed URLs (no scheme://authority head) pass through with only
    * the fragment dropped — canonicalization must never invent a URL. */
  def canonicalizeUrl(c: Column): Column = {
    val noFrag = regexp_replace(c, "#.*", "")
    val head = regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val tail = noFrag.substr(length(head) + lit(1), length(noFrag))
    // \z (end of TEXT) everywhere a '$' would sit: Java's '$' matches
    // before a trailing line terminator while RE2's does not, so '$'
    // breaks the dialect-intersection contract on a URL with a trailing
    // newline; '\z' means end-of-input in BOTH engines
    val headLc = lower(head)
    val headCanon =
      when(headLc.startsWith("http://"), regexp_replace(headLc, ":80\\z", ""))
        .when(headLc.startsWith("https://"), regexp_replace(headLc, ":443\\z", ""))
        .otherwise(headLc)
    val path = regexp_extract(tail, "^([^?]*)", 1)
    val query = regexp_extract(tail, "^[^?]*\\?(.*)\\z", 1)
    val pathCanon = regexp_replace(path, "/[A-Za-z0-9_-]+/\\.\\./", "/")
    val params = filter(split(query, "&"),
      x => x =!= "" && substring(x, 1, 4) =!= "utm_")
    val queryCanon = array_join(array_sort(params), "&")
    when(head === "", noFrag).otherwise(
      concat(headCanon, pathCanon,
        when(queryCanon === "", lit("")).otherwise(concat(lit("?"), queryCanon))))
  }

  /** Per-doc repetition metrics + keep verdict via the O(doc-length)
    * per-row kernel (native.rep_metrics): the ZERO-shuffle form of
    * [[repetitionMetrics]] + a threshold filter, bit-identical to it
    * (CurateStreamSpec) and valid on batch and streaming frames alike —
    * per-row memory is bounded by one document's token array, which the
    * frame already materializes as a row. Docs with < 2 tokens (no
    * 2-grams) are dropped, as the explode path's inner join drops them;
    * the short-doc filter sits above a [[KernelBarrier]], so the kernel
    * runs once per row. */
  def qualityRepetition(df: DataFrame, idCol: String, textCol: String,
                        maxTop2GramFrac: Double, maxDup2GramFrac: Double,
                        maxDupWordFrac: Double): DataFrame =
    KernelBarrier.over(df.select(col(idCol),
        native.rep_metrics(native.tokens(col(textCol))).as("m")))
      .filter(col("m").isNotNull)
      .select(col(idCol), col("m.n_tokens").as("n_tokens"),
        col("m.dup_word_frac").as("dup_word_frac"),
        col("m.dup_2gram_frac").as("dup_2gram_frac"),
        col("m.top_2gram_frac").as("top_2gram_frac"))
      .withColumn("keep",
        col("top_2gram_frac") <= maxTop2GramFrac &&
          col("dup_2gram_frac") <= maxDup2GramFrac &&
          col("dup_word_frac") <= maxDupWordFrac)

  /** Context-window chunking: each document becomes overlapping `win`-
    * token windows starting every `stride` tokens (start_i = i·stride
    * while start < n; tail windows shorter), so every token is covered
    * and a span crossing a cut boundary appears whole in the
    * overlapping neighbor. Adds `chunk_idx, chunk_text, n_toks` (one
    * output row per window); rows with no tokens drop. Pure in-row
    * transform+explode — stateless, so it runs unchanged on batch and
    * streaming frames (the chunk_documents query and Curate.chunk both
    * call THIS, and cannot drift). */
  def chunkDocuments(df: DataFrame, textCol: String, win: Int, stride: Int): DataFrame = {
    require(win >= 1, s"win must be >= 1: $win")
    require(stride >= 1 && stride <= win,
      s"need 1 <= stride <= win for full coverage: $stride, $win")
    KernelBarrier.over(df.withColumn("__toks", TextFunctions.tokens(col(textCol))))
      .filter(size(col("__toks")) >= 1)
      .withColumn("__c", explode(expr(
        s"transform(sequence(0, (size(__toks)-1) DIV $stride), i -> " +
          s"struct(i AS chunk_idx, " +
          s"concat_ws(' ', slice(__toks, i*$stride+1, $win)) AS chunk_text, " +
          s"size(slice(__toks, i*$stride+1, $win)) AS n_toks))")))
      .withColumn("chunk_idx", col("__c.chunk_idx").cast("long"))
      .withColumn("chunk_text", col("__c.chunk_text"))
      .withColumn("n_toks", col("__c.n_toks").cast("long"))
      .drop("__toks", "__c")
  }

  /** GPT-style sequence packing: deterministic order within hash shards,
    * running size offsets, owning fixed-size training window. Documents
    * straddle window boundaries (standard pretraining packing). Adds
    * `shard, seq_start, window_id, window_offset, n_windows`. One
    * shuffle on the shard key; shards bound partition width at scale. */
  def packSequences(df: DataFrame, idCol: String, sizeCol: String,
                    shards: Long, budget: Long): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("shard", col(idCol) % shards)
      .withColumn("seq_start", coalesce(sum(col(sizeCol)).over(w), lit(0L)))
      .withColumn("window_id", expr(s"seq_start DIV $budget"))
      .withColumn("window_offset", col("seq_start") % budget)
      .withColumn("n_windows",
        expr(s"(seq_start + $sizeCol - 1) DIV $budget") -
          col("window_id") + lit(1L))
  }
}
