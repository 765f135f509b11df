package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Curation

/** Data-curation operators a large-scale training pipeline runs between
  * dedup and corpus assembly: PII scrubbing, repetition-based quality
  * filtering (the MassiveText/Gopher rule family), and GPT-style
  * sequence packing. All three are hash-exact against the DuckDB oracle
  * and shaped for 100 TB: pii_redact and the repetition metrics are
  * narrow zero-shuffle per-row plans; the packing offsets pay exactly
  * one shuffle on the shard key.
  */
object CurationOps extends QueryGroup {

  // --- text_pii_redact ------------------------------------------------
  // Patterns live in functions.Curation (shared with the pipeline
  // example); restricted to the Java-regex ∩ RE2 dialect intersection.
  private val EmailRe = Curation.EmailRe
  private val Ipv4Re = Curation.Ipv4Re
  private val LongNumRe = Curation.LongNumRe

  // --- quality_repetition --------------------------------------------
  // Thresholds follow the Gopher/MassiveText RULE SHAPE (drop docs whose
  // repetition fractions exceed a cap) with values tuned to this corpus's
  // observed distribution (sf0.01: top2 p50=0.033/p90=0.069, dup2
  // p50=0.028/p90=0.065, dupw p50=0.54/p90=0.68) so the verdict actually
  // discriminates here — 280 keep / 220 drop — rather than keeping 100%
  // as the paper's web-text thresholds would on word-salad documents.
  private val MaxTop2GramFrac = 0.06
  private val MaxDup2GramFrac = 0.05
  private val MaxDupWordFrac = 0.65

  // --- chunk_documents ------------------------------------------------
  // context-window splitting with overlap — window of ChunkWin tokens
  // starting every ChunkStride (overlap = Win - Stride), so every token
  // is covered and boundary context is preserved
  private val ChunkWin = 64
  private val ChunkStride = 48

  // --- pack_sequences -------------------------------------------------
  private val PackBudget = 8192L // chars per training window
  private val PackShards = 8L // deterministic output shards
  private val TokenBudget = 2048L // BPE tokens per training window (GPT-style context)

  // --- quality_heuristics ---------------------------------------------
  // The C4 + Gopher doc-level rule battery: minimum word count, mean
  // word length band, required stopword diversity (Gopher's "has >= 2 of
  // a small stopword set"), and the C4 content flags (curly brace =
  // code page, "lorem ipsum" = template page).
  private val MinWords = 5L
  private val MinMeanWordLen = 3.0
  private val MaxMeanWordLen = 10.0
  private val MinStopHits = 2L
  private val HeurStops = Seq("the", "a", "and", "of", "to", "in")

  // --- text_normalize -------------------------------------------------
  // Classes live in functions.Curation (shared with the streaming stage).
  private val CtrlRe = Curation.CtrlRe
  private val WsRe = Curation.WsRe

  override def queries: Map[String, Q] = Map(
    // PII redaction (the C4/RefinedWeb scrub stage): replace emails,
    // IPv4 addresses, and long digit runs with typed placeholders and
    // count each redaction class. The synthetic corpus carries no
    // natural PII (0 regex hits, verified), so the query demonstrates
    // the full redaction path on a CONSTRUCTED contact column derived
    // deterministically from doc_id/source — every row makes all three
    // patterns fire and the redacted bytes must hash-match DuckDB's.
    // PiiFixtureSpec covers adversarial real-text cases. Counts are
    // chain-positional: n_ip counts on the email-redacted string and
    // n_longnum on the ip-redacted string, so digits inside an email or
    // IP are never double-counted. Narrow plan: zero shuffles.
    "text_pii_redact" -> ((s, dir) => {
      import s.implicits._
      widen(t(s, dir, "documents"))(_
        .withColumn("rawtext", concat(
          $"text", lit(" contact user"), $"doc_id".cast("string"),
          lit("@mail-"), $"source", lit(".com or 192.168."),
          ($"doc_id" % 256).cast("string"), lit(".7 ref "),
          lpad(($"doc_id" * 7919L % 10000000L).cast("string"), 7, "0")))
        .withColumn("r1", regexp_replace($"rawtext", EmailRe, "<EMAIL>"))
        .withColumn("r2", regexp_replace($"r1", Ipv4Re, "<IP>"))
        .select(
          $"doc_id",
          regexp_replace($"r2", LongNumRe, "<NUM>").as("redacted"),
          regexp_count($"rawtext", lit(EmailRe)).cast("long").as("n_email"),
          regexp_count($"r1", lit(Ipv4Re)).cast("long").as("n_ip"),
          regexp_count($"r2", lit(LongNumRe)).cast("long").as("n_longnum")))
    }),

    // Repetition-based quality filter (Gopher rules): duplicate-word
    // fraction, duplicate-2-gram fraction (repeat occurrences / total),
    // and top-2-gram fraction (occurrences of the most frequent 2-gram /
    // total). Per-doc metrics via the O(doc-length) compiled kernel
    // (native.rep_metrics, one hash-set + one hash-map pass): ZERO
    // shuffles where the r7 explode + two keyed aggregations paid two
    // plus a join. This is NOT the text_langid_ngram trap — that lesson
    // was about interpreted quadratic per-row HOFs; a codegen'd linear
    // kernel with memory bounded by one document beats shipping every
    // (doc_id, gram) pair through an exchange. The explode+agg path
    // remains in Curation.repetitionMetrics (streaming-parity
    // cross-check + the shape for corpora whose single docs outgrow a
    // row); CurateStreamSpec pins the two bit-identical.
    "quality_repetition" -> ((s, dir) =>
      Curation.qualityRepetition(
        t(s, dir, "documents"), "doc_id", "text",
        MaxTop2GramFrac, MaxDup2GramFrac, MaxDupWordFrac)),

    // Context-window chunking — the embedding/RAG preprocessing twin of
    // packing: each document becomes overlapping ChunkWin-token windows
    // starting every ChunkStride tokens (start_i = i·stride while
    // start < n, tail windows shorter), so every token is covered and
    // a span crossing a cut boundary still appears whole in the
    // overlapping neighbor. Pure in-row transform+explode — zero
    // shuffles at any corpus size; window coordinates are integers so
    // the output hash-compares exactly.
    "chunk_documents" -> ((s, dir) => {
      import s.implicits._
      widen(t(s, dir, "documents"))(
          Curation.chunkDocuments(_, "text", ChunkWin, ChunkStride))
        .select($"doc_id", $"chunk_idx", $"chunk_text", $"n_toks")
    }),

    // GPT-style sequence packing: concatenate documents in deterministic
    // order within hash shards and slice fixed-size training windows —
    // documents straddle window boundaries (the standard pretraining
    // packing; no per-bin greedy state needed, unlike first-fit). Each
    // doc gets its shard, global char offset, owning window, offset
    // within that window, and how many windows it spans. One shuffle on
    // the shard key; the running offset is a plain window cumsum, so the
    // plan survives any corpus size (shards bound partition width).
    "pack_sequences" -> ((s, dir) => {
      import s.implicits._
      Curation.packSequences(t(s, dir, "documents"), "doc_id", "n_chars",
          PackShards, PackBudget)
        .select($"doc_id", $"shard", $"n_chars", $"seq_start",
          $"window_id", $"window_offset", $"n_windows")
    }),

    // URL canonicalization (Curation.canonicalizeUrl): the CC-style URL
    // dedup key. The corpus carries no URL column, so the query
    // constructs one deterministically from doc_id — every non-variant
    // part keys off doc_id DIV 4 so the group REALLY collapses, and
    // EVERY rule fires on every row (mixed-case scheme+host, default
    // port, one dot segment, a utm_ param, unsorted params, fragment) —
    // then emits the canonical form plus the group the key collapses
    // into: url_dups counts how many raw URLs share the canonical key
    // (doc_id % 4 variants differ only in case/port/fragment/param
    // order, so groups of 4 collapse). Narrow plan + one count agg on
    // the canonical key.
    "url_canonicalize" -> ((s, dir) => {
      import s.implicits._
      // widened past SpreadDocKernel: at sf0.1 the exchange costs more
      // than the serial regex kernel (r17: 0.43 → 0.72 s paired with an
      // ungated repartition), so below the byte gate the scan stays
      // narrow; above it the canonicalize projection runs after the
      // repartition
      val canon = widen(t(s, dir, "documents"), SpreadDocKernel)(_.select($"doc_id",
        concat(
          when($"doc_id" % 4 === 0, "HTTP://WWW.Site").otherwise("http://www.site"),
          expr("doc_id DIV 4").cast("string"),
          when($"doc_id" % 4 === 1, ".COM").otherwise(".com"),
          when($"doc_id" % 4 === 2, ":80").otherwise(""),
          lit("/a/src"), expr("doc_id DIV 4 % 5").cast("string"),
          lit("/../p"), expr("doc_id DIV 4 % 13").cast("string"),
          lit("/index.html?"),
          when($"doc_id" % 4 === 3, "z=2&utm_source=feed&a=1")
            .otherwise("a=1&utm_campaign=x&z=2"),
          lit("#sec"), ($"doc_id" % 7).cast("string")).as("url"))
        .select($"doc_id",
          graft.functions.Curation.canonicalizeUrl($"url").as("canon_url")))
      // group count as an unordered window over the canonical key: ONE
      // shuffle and ONE evaluation of the canonicalize kernel, where the
      // groupBy+self-join spelling paid two of each (guide §2.4 — two
      // operations keyed the same way share one exchange)
      canon
        .withColumn("url_dups",
          count(lit(1)).over(Window.partitionBy($"canon_url")))
        .select($"doc_id", $"canon_url", $"url_dups")
    }),

    // Token-level packing — pack_sequences with the budget in BPE TOKENS
    // (what a real GPT pipeline packs by: the window is a context length,
    // not a byte count). Token counts come from the TRUE merge-table BPE
    // kernel (native.bpe_tokens, the text_bpe_merges encoder), so the
    // offsets are the ones the training run will see after tokenization.
    // Zero-token docs (no letter runs) are excluded — nothing to pack,
    // and their empty-doc window arithmetic is division-convention bait
    // (Spark DIV truncates, DuckDB // floors; (0-1)/b diverges). Same
    // one-shuffle shape as pack_sequences; the BPE encode is the narrow
    // per-row kernel with the per-thread word cache.
    "pack_sequences_tokens" -> ((s, dir) => {
      import s.implicits._
      val sized = widen(t(s, dir, "documents"))(_.withColumn("n_bpe_tokens",
          size(graft.functions.native.bpe_tokens($"text")).cast("long")))
        .filter($"n_bpe_tokens" >= 1)
      Curation.packSequences(sized, "doc_id", "n_bpe_tokens",
          PackShards, TokenBudget)
        .select($"doc_id", $"shard", $"n_bpe_tokens", $"seq_start",
          $"window_id", $"window_offset", $"n_windows")
    }),

    // Text normalization — the first stage of every web-text cleaner:
    // Unicode NFC (the native.nfc kernel: pure-ASCII rows are detected in
    // one byte scan and returned zero-copy, so at corpus scale the
    // Normalizer runs only on rows that can actually change), then strip
    // C0/DEL control chars, then collapse whitespace runs to single
    // spaces and trim. The synthetic corpus is already clean ASCII (the
    // pii_redact situation), so the query appends a CONSTRUCTED suffix
    // that makes every stage fire on every row: a tab, a double space, a
    // BEL control, a DECOMPOSED e+U+0301 (NFC must compose it to é —
    // pinning real cross-engine Unicode composition, not just ASCII
    // identity), and a CRLF with trailing spaces. n_chars_raw/nfc/norm
    // expose each stage's length delta, so the hash pins where every
    // character went. Narrow plan: zero shuffles, one projection.
    "text_normalize" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("raw", concat($"text",
          lit("\t tabbed  twice \u0007 caf"), lit("e\u0301"), lit(" \r\nend  ")))
        .withColumn("nfc", graft.functions.native.nfc($"raw"))
        .select($"doc_id",
          length($"raw").cast("long").as("n_chars_raw"),
          length($"nfc").cast("long").as("n_chars_nfc"),
          // trim(collapse(strip(nfc(raw)))) — the shared streaming-parity
          // transform; the nfc column above only feeds the length probe
          Curation.normalizeText($"raw").as("text_norm"))
        .withColumn("n_chars_norm", length($"text_norm").cast("long"))
    }),

    // HTML main-text extraction (Curation.htmlExtract) — the WET-style
    // stage before any text analysis: drop script/style bodies and
    // comments, strip tags, decode the six core entities (single-decode,
    // '&amp;' last), collapse whitespace. The corpus has no markup, so
    // the query WRAPS each doc in a constructed page that exercises every
    // rule on every row — attributes, a script with '<' in its body, a
    // style block, a comment, and all six entities (including the
    // '&amp;lt;' double-decode trap, which must surface as the literal
    // text '&lt;'). n_tags counts raw tags pre-strip; the extracted
    // bytes and both counts must hash-match DuckDB. Narrow, zero
    // shuffles.
    "text_html_extract" -> ((s, dir) => {
      import s.implicits._
      // widened past SpreadDocKernel: the regex-heavy extract ran on the
      // 1-task scan at 20× (4.5 s serial); sf0.1 stays narrow (byte gate)
      widen(t(s, dir, "documents"), SpreadDocKernel)(_
        .withColumn("html", concat(
          lit("<html ><body class=\"c"), ($"doc_id" % 5).cast("string"),
          lit("\"><h1>T&amp;T "), $"source", lit("</h1>\n<p>"), $"text",
          lit("</p><script type=\"text/javascript\">var x = 1 &lt; 2;</script>"),
          lit("<style>.a{color:red}</style>"),
          lit("<p>1 &lt; 2 &amp;&amp; 3 &gt; 2, \"q&quot;s\", it&#39;s,"),
          lit(" a&nbsp;b, literal &amp;lt; stays</p>"),
          lit("<!-- hidden --></body></html>")))
        .select($"doc_id",
          Curation.htmlExtract($"html").as("text_main"),
          regexp_count($"html", lit(Curation.TagRe)).cast("long").as("n_tags"))
        .withColumn("n_chars_main", length($"text_main").cast("long")))
    }),

    // Heuristic quality filter — the C4 + Gopher doc-level battery:
    // word count >= MinWords, mean word length inside [3, 10], stopword
    // diversity (>= MinStopHits distinct members of a 6-word stop set
    // present — Gopher's cheap English-ness gate), no '{' (C4's code-page
    // flag), no 'lorem ipsum' (C4's template-page flag). The corpus is
    // brace- and lorem-free, so the flags are armed by a CONSTRUCTED
    // suffix on deterministic doc_id slices (the pii_redact pattern) —
    // every rule genuinely fires somewhere and the keep verdict varies.
    // mean_word_len is one exact long sum / IEEE division, round 9 both
    // engines. Narrow plan, zero shuffles, one linear fold per row.
    "quality_heuristics" -> ((s, dir) => {
      import s.implicits._
      val armed = t(s, dir, "documents")
        .withColumn("raw", concat($"text",
          when($"doc_id" % 7 === 0, " {code}").otherwise(""),
          when($"doc_id" % 11 === 0, " lorem ipsum dolor").otherwise("")))
      Curation.qualityHeuristics(armed, "raw",
          MinWords, MinMeanWordLen, MaxMeanWordLen, MinStopHits, HeurStops)
        .select($"doc_id", $"n_words", $"mean_word_len", $"n_stop_hits",
          $"has_brace", $"has_lorem", $"keep")
    })
  )

  private val sqlToks = "list_filter(string_split(text, ' '), x -> x <> '')"

  override def oracle: Map[String, String] = Map(
    "text_pii_redact" ->
      s"""SELECT doc_id,
         |  regexp_replace(r2, '$LongNumRe', '<NUM>', 'g') AS redacted,
         |  len(regexp_extract_all(rawtext, '$EmailRe')) AS n_email,
         |  len(regexp_extract_all(r1, '$Ipv4Re')) AS n_ip,
         |  len(regexp_extract_all(r2, '$LongNumRe')) AS n_longnum
         |FROM (
         |  SELECT doc_id, rawtext,
         |    regexp_replace(rawtext, '$EmailRe', '<EMAIL>', 'g') AS r1,
         |    regexp_replace(regexp_replace(rawtext, '$EmailRe', '<EMAIL>', 'g'),
         |                   '$Ipv4Re', '<IP>', 'g') AS r2
         |  FROM (
         |    SELECT doc_id,
         |      text || ' contact user' || CAST(doc_id AS VARCHAR)
         |        || '@mail-' || source || '.com or 192.168.'
         |        || CAST(doc_id % 256 AS VARCHAR) || '.7 ref '
         |        || lpad(CAST(doc_id * 7919 % 10000000 AS VARCHAR), 7, '0') AS rawtext
         |    FROM documents))""".stripMargin,

    "quality_repetition" ->
      s"""SELECT doc_id, n_tokens,
         |  dup_word_frac, dup_2gram_frac, top_2gram_frac,
         |  (top_2gram_frac <= $MaxTop2GramFrac
         |    AND dup_2gram_frac <= $MaxDup2GramFrac
         |    AND dup_word_frac <= $MaxDupWordFrac) AS keep
         |FROM (
         |  SELECT doc_id, nt AS n_tokens,
         |    1.0 - CAST(nd AS DOUBLE) / nt AS dup_word_frac,
         |    1.0 - CAST(ndist AS DOUBLE) / total AS dup_2gram_frac,
         |    CAST(maxc AS DOUBLE) / total AS top_2gram_frac
         |  FROM (
         |    SELECT doc_id, max(c) AS maxc, sum(c) AS total, count(*) AS ndist
         |    FROM (
         |      SELECT doc_id, g, count(*) AS c
         |      FROM (
         |        SELECT doc_id, unnest(
         |          [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS g
         |        FROM (SELECT doc_id, $sqlToks AS toks FROM documents))
         |      GROUP BY doc_id, g)
         |    GROUP BY doc_id)
         |  JOIN (
         |    SELECT doc_id, len(toks) AS nt, len(list_distinct(toks)) AS nd
         |    FROM (SELECT doc_id, $sqlToks AS toks FROM documents))
         |  USING (doc_id))""".stripMargin,

    "chunk_documents" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents)
         |SELECT doc_id, i AS chunk_idx,
         |  array_to_string(toks[i*$ChunkStride+1 : i*$ChunkStride+$ChunkWin], ' ')
         |    AS chunk_text,
         |  CAST(len(toks[i*$ChunkStride+1 : i*$ChunkStride+$ChunkWin]) AS BIGINT)
         |    AS n_toks
         |FROM tk, UNNEST(generate_series(0, (len(toks)-1)//$ChunkStride)) t(i)
         |WHERE len(toks) >= 1""".stripMargin,

    "pack_sequences" ->
      s"""SELECT doc_id, shard, n_chars, seq_start,
         |  seq_start // $PackBudget AS window_id,
         |  seq_start % $PackBudget AS window_offset,
         |  (seq_start + n_chars - 1) // $PackBudget
         |    - seq_start // $PackBudget + 1 AS n_windows
         |FROM (
         |  SELECT doc_id, shard, n_chars,
         |    CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS seq_start
         |  FROM (SELECT doc_id, doc_id % $PackShards AS shard, n_chars
         |        FROM documents))""".stripMargin,

    "url_canonicalize" ->
      """WITH urls AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 4 = 0 THEN 'HTTP://WWW.Site' ELSE 'http://www.site' END)
        |    || CAST(doc_id // 4 AS VARCHAR)
        |    || (CASE WHEN doc_id % 4 = 1 THEN '.COM' ELSE '.com' END)
        |    || (CASE WHEN doc_id % 4 = 2 THEN ':80' ELSE '' END)
        |    || '/a/src' || CAST(doc_id // 4 % 5 AS VARCHAR)
        |    || '/../p' || CAST(doc_id // 4 % 13 AS VARCHAR)
        |    || '/index.html?'
        |    || (CASE WHEN doc_id % 4 = 3 THEN 'z=2&utm_source=feed&a=1'
        |        ELSE 'a=1&utm_campaign=x&z=2' END)
        |    || '#sec' || CAST(doc_id % 7 AS VARCHAR) AS url
        |  FROM documents),
        |hp AS (
        |  SELECT doc_id, nofrag,
        |    regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS head
        |  FROM (SELECT doc_id, regexp_replace(url, '#.*', '') AS nofrag FROM urls)),
        |pieces AS (
        |  SELECT doc_id, nofrag, head,
        |    CASE WHEN starts_with(lower(head), 'http://')
        |         THEN regexp_replace(lower(head), ':80\z', '')
        |         WHEN starts_with(lower(head), 'https://')
        |         THEN regexp_replace(lower(head), ':443\z', '')
        |         ELSE lower(head) END AS headc,
        |    regexp_extract(tail, '^([^?]*)', 1) AS path,
        |    regexp_extract(tail, '^[^?]*\?(.*)\z', 1) AS q
        |  FROM (SELECT doc_id, nofrag, head, substr(nofrag, length(head) + 1) AS tail
        |        FROM hp)),
        |canon AS (
        |  SELECT doc_id,
        |    CASE WHEN head = '' THEN nofrag ELSE
        |      headc || regexp_replace(path, '/[A-Za-z0-9_-]+/\.\./', '/', 'g')
        |      || (CASE WHEN qq = '' THEN '' ELSE '?' || qq END)
        |    END AS canon_url
        |  FROM (
        |    SELECT doc_id, nofrag, head, headc, path,
        |      array_to_string(list_sort(list_filter(string_split(q, '&'),
        |        x -> x <> '' AND substr(x, 1, 4) <> 'utm_')), '&') AS qq
        |    FROM pieces))
        |SELECT doc_id, canon_url,
        |  COUNT(*) OVER (PARTITION BY canon_url) AS url_dups
        |FROM canon""".stripMargin,

    // the text_bpe_merges recursive-CTE encoder (TextOps.bpeRs) computes
    // each doc's true BPE token count; the packing arithmetic is then
    // identical to pack_sequences with the token column. Docs whose
    // encode is empty are excluded, as in the query. All sizes >= 1, so
    // (seq_start + n - 1) never goes negative and // == DIV.
    "pack_sequences_tokens" ->
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
         |    FROM (SELECT doc_id, wi, toks, ${TextOps.bpeRs("toks")} AS rs FROM enc))
         |  WHERE mn < 999999),
         |fin AS (
         |  SELECT doc_id, wi, toks
         |  FROM (SELECT doc_id, wi, toks, list_min(${TextOps.bpeRs("toks")}) AS mn FROM enc)
         |  WHERE mn IS NULL OR mn = 999999),
         |sized AS (
         |  SELECT doc_id, doc_id % $PackShards AS shard,
         |    CAST(SUM(len(toks)) AS BIGINT) AS n_bpe_tokens
         |  FROM fin GROUP BY doc_id
         |  HAVING SUM(len(toks)) >= 1),
         |off AS (
         |  SELECT doc_id, shard, n_bpe_tokens,
         |    CAST(COALESCE(SUM(n_bpe_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS seq_start
         |  FROM sized)
         |SELECT doc_id, shard, n_bpe_tokens, seq_start,
         |  seq_start // $TokenBudget AS window_id,
         |  seq_start % $TokenBudget AS window_offset,
         |  (seq_start + n_bpe_tokens - 1) // $TokenBudget
         |    - seq_start // $TokenBudget + 1 AS n_windows
         |FROM off""".stripMargin,

    // same constructed suffix, chr()-spelled (chr(9) tab, chr(7) BEL,
    // chr(101)||chr(769) = decomposed e + combining acute, chr(13)||
    // chr(10) CRLF); nfc_normalize is DuckDB's NFC — the composed é must
    // come out of BOTH engines' Unicode tables for the hash to match.
    "text_normalize" ->
      s"""SELECT doc_id, n_chars_raw, n_chars_nfc, text_norm,
         |  len(text_norm) AS n_chars_norm
         |FROM (
         |  SELECT doc_id, n_chars_raw, n_chars_nfc,
         |    trim(regexp_replace(clean, '$WsRe', ' ', 'g')) AS text_norm
         |  FROM (
         |    SELECT doc_id, len(raw) AS n_chars_raw, len(n) AS n_chars_nfc,
         |      regexp_replace(n, '$CtrlRe', '', 'g') AS clean
         |    FROM (
         |      SELECT doc_id, raw, nfc_normalize(raw) AS n
         |      FROM (
         |        SELECT doc_id,
         |          text || chr(9) || ' tabbed  twice ' || chr(7) || ' caf'
         |            || chr(101) || chr(769) || ' ' || chr(13) || chr(10)
         |            || 'end  ' AS raw
         |        FROM documents))))""".stripMargin,

    // same constructed page; the entity decode chain is replace() in the
    // same order, '&amp;' last — the '&amp;lt;' trap must come out as
    // the literal '&lt;' in both engines.
    "text_html_extract" ->
      s"""SELECT doc_id, text_main, n_tags, len(text_main) AS n_chars_main
         |FROM (
         |  SELECT doc_id,
         |    trim(regexp_replace(
         |      replace(replace(replace(replace(replace(replace(
         |        regexp_replace(
         |          regexp_replace(
         |            regexp_replace(
         |              regexp_replace(html, '${Curation.ScriptRe}', ' ', 'g'),
         |              '${Curation.StyleRe}', ' ', 'g'),
         |            '${Curation.CommentRe}', ' ', 'g'),
         |          '${Curation.TagRe}', ' ', 'g'),
         |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
         |      '$WsRe', ' ', 'g')) AS text_main,
         |    len(regexp_extract_all(html, '${Curation.TagRe}')) AS n_tags
         |  FROM (
         |    SELECT doc_id,
         |      '<html ><body class="c' || CAST(doc_id % 5 AS VARCHAR)
         |      || '"><h1>T&amp;T ' || source || '</h1>' || chr(10) || '<p>' || text
         |      || '</p><script type="text/javascript">var x = 1 &lt; 2;</script>'
         |      || '<style>.a{color:red}</style>'
         |      || '<p>1 &lt; 2 &amp;&amp; 3 &gt; 2, "q&quot;s", it&#39;s,'
         |      || ' a&nbsp;b, literal &amp;lt; stays</p>'
         |      || '<!-- hidden --></body></html>' AS html
         |    FROM documents))""".stripMargin,

    "quality_heuristics" ->
      s"""SELECT doc_id, n_words, mean_word_len, n_stop_hits,
         |  has_brace, has_lorem,
         |  (n_words >= $MinWords
         |    AND mean_word_len >= $MinMeanWordLen
         |    AND mean_word_len <= $MaxMeanWordLen
         |    AND NOT has_brace AND NOT has_lorem
         |    AND n_stop_hits >= $MinStopHits) AS keep
         |FROM (
         |  SELECT doc_id, len(toks) AS n_words,
         |    CASE WHEN len(toks) > 0 THEN
         |      ROUND(CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE)
         |        / len(toks), 9) END AS mean_word_len,
         |    CAST(len(list_filter(
         |      [${HeurStops.map(w => s"'$w'").mkString(", ")}],
         |      s -> list_contains(toks, s))) AS BIGINT) AS n_stop_hits,
         |    contains(raw, '{') AS has_brace,
         |    contains(raw, 'lorem ipsum') AS has_lorem
         |  FROM (
         |    SELECT doc_id, raw,
         |      list_filter(string_split(raw, ' '), x -> x <> '') AS toks
         |    FROM (
         |      SELECT doc_id,
         |        text || (CASE WHEN doc_id % 7 = 0 THEN ' {code}' ELSE '' END)
         |          || (CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum dolor' ELSE '' END)
         |          AS raw
         |      FROM documents)))""".stripMargin
  )
}
