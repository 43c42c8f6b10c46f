package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions._

/** Text-analysis suite over the `documents` table: token statistics,
  * quality scoring, language ID, fingerprinting, and the word-frequency
  * explode. All single-pass, codegen'd, shuffle only at the final
  * (small) aggregate — the shape that holds at a 100 TB corpus.
  */
object TextQueries {

  /** G1 (explode/unnest — 11_ingest_population.ipynb:382-388) + O2
    * top-k: global word frequency. The explode multiplies rows ~100×
    * but the partial aggregate collapses map-side before the shuffle.
    */
  val t01WordTopK = Q(
    "t01_word_topk",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(explode(wsTokens($"text")).as("word"))
        .groupBy($"word")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"word".asc)
        .limit(20)
    },
    Some(s"""SELECT w AS word, count(*) AS n
      FROM (SELECT unnest($wsTokensSql) AS w FROM documents)
      GROUP BY w ORDER BY n DESC, w ASC LIMIT 20"""),
    headline = true)

  /** Token counting: whitespace tokens + BPE-ish sub-tokens (regex
    * pre-tokenizer), per document.
    */
  val t02TokenCount = Q(
    "t02_token_count",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir).select(
        $"doc_id",
        tokenCount($"text").as("n_ws_tokens"),
        size(bpeIshTokens($"text")).as("n_bpe_tokens"),
        length($"text").as("n_chars_seen"))
    },
    Some(s"""SELECT doc_id,
        len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS n_ws_tokens,
        len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_bpe_tokens,
        length(text) AS n_chars_seen
      FROM documents"""),
    headline = true)

  /** Quality scoring: length, mean token length, stopword ratio,
    * non-alphanumeric ratio → composite score. Mirrors the heuristic
    * quality filters used on LLM pretraining corpora.
    */
  val t03QualityScore = Q(
    "t03_quality_score",
    (s, dir) => {
      import s.implicits._
      val toks = wsTokens($"text")
      val nToks = size(toks).cast("double")
      val stopHits = tokensInSet(toks, stopwords).cast("double")
      val punct = length(regexp_replace($"text", "[a-z0-9 ]", "")).cast("double")
      // try_divide: degenerate inputs (empty text / zero tokens) yield
      // NULL exactly like the DuckDB oracle's x/0, instead of ANSI
      // errors or IEEE infinities
      Tables.documents(s, dir).select(
        $"doc_id",
        size(toks).as("n_tokens"),
        round(try_divide(length($"text").cast("double"), nToks), 4).as("mean_token_span"),
        round(try_divide(stopHits, nToks), 4).as("stopword_ratio"),
        round(try_divide(punct, length($"text")), 4).as("punct_ratio"),
        // shared with d12's canonical selection (TextFunctions)
        qualityScore($"text").as("quality_score"))
    },
    Some(s"""SELECT doc_id,
        len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS n_tokens,
        round(length(text) / len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')), 4) AS mean_token_span,
        round(len(list_filter(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''),
              t -> t IN ('the','a','an','of','and','to','is','in','it','that')))
          / len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')), 4) AS stopword_ratio,
        round(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0 / length(text), 4) AS punct_ratio,
        $qualityScoreSql AS quality_score
      FROM documents"""))

  /** Language ID via per-language marker-word scores with a
    * deterministic argmax (fixed precedence on ties). On this synthetic
    * corpus the text is language-independent, so the heuristic mostly
    * answers 'en' — the *operator* (score + argmax over marker
    * vocabularies) is the deliverable; accuracy needs real corpora.
    */
  val t04LangId = Q(
    "t04_langid",
    (s, dir) => {
      import s.implicits._
      // tokenize once into a projected column; the four marker scores
      // read it instead of re-splitting the text per language
      val toks = $"toks"
      val scoreCols = Seq($"doc_id", $"lang") ++
        langMarkers.map { case (l, vocab) => tokensInSet(toks, vocab).as(s"s_$l") }
      val scored = Tables.documents(s, dir)
        .withColumn("toks", wsTokens($"text"))
        .select(scoreCols: _*)
      val m = greatest(langMarkers.map { case (l, _) => col(s"s_$l") }: _*)
      val pred = langMarkers.foldRight(lit("und")) { case ((l, _), acc) =>
        when(col(s"s_$l") === m && m > 0, l).otherwise(acc)
      }
      scored
        .select($"lang", pred.as("pred_lang"))
        .groupBy($"lang", $"pred_lang")
        .agg(count(lit(1)).as("n"))
    },
    Some {
      val score = (vocab: Seq[String]) =>
        s"len(list_filter(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''), t -> t IN (${vocab.map(w => s"'$w'").mkString(",")})))"
      val scores = langMarkers.map { case (l, v) => s"${score(v)} AS s_$l" }.mkString(",\n        ")
      val m = s"greatest(${langMarkers.map { case (l, _) => s"s_$l" }.mkString(",")})"
      val pred = langMarkers.reverse.foldLeft("'und'") { case (acc, (l, _)) =>
        s"CASE WHEN s_$l = m AND m > 0 THEN '$l' ELSE $acc END"
      }
      s"""WITH scored AS (
        SELECT doc_id, lang, $scores
        FROM documents),
      am AS (SELECT lang, ${langMarkers.map { case (l, _) => s"s_$l" }.mkString(", ")}, $m AS m FROM scored)
      SELECT lang, $pred AS pred_lang, count(*) AS n
      FROM am GROUP BY 1, 2"""
    })

  /** Document fingerprinting: Rabin–Karp rolling hash over the full
    * text (mod 1e9+7, base 31), computed by the native codegen'd
    * Catalyst expression `graft.functions.RollingHash`. The DuckDB
    * oracle replays the identical fold via list_reduce, so the
    * fingerprints hash-match bit-for-bit.
    */
  val t05Fingerprint = Q(
    "t05_fingerprint",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir).select(
        $"doc_id",
        graft.functions.exprs.rolling_hash($"text").as("fingerprint"))
    },
    Some("""SELECT doc_id,
        list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
          (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
      FROM documents"""),
    headline = true)

  /** The reference's parse-shape semantics (X1–X5/F2: split on \s+,
    * positional token extraction, null-on-failure try_cast, not-null
    * gate — 20_analytics.ipynb:335-359) as an oracle-checked query
    * over `documents`.
    */
  val t06ParseShapes = Q(
    "t06_parse_shapes",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(
          $"doc_id",
          element_at(split(trim($"text"), "\\s+"), 1).as("first_token"),
          expr("try_cast(substr(source, 4) as int)").as("src_num"),
          expr("try_cast(lang as int)").as("lang_as_int"))
        .where($"src_num".isNotNull)
    },
    Some("""SELECT doc_id,
        list_extract(string_split_regex(trim(text), '\s+'), 1) AS first_token,
        TRY_CAST(substr(source, 4) AS INT) AS src_num,
        TRY_CAST(lang AS INT) AS lang_as_int
      FROM documents
      WHERE TRY_CAST(substr(source, 4) AS INT) IS NOT NULL"""))

  private val ChunkSize = 64
  private val ChunkOverlap = 16
  private val ChunkStep = ChunkSize - ChunkOverlap

  /** Document chunking into overlapping token windows — the standard
    * pre-training segmentation (context-window packing with overlap).
    * Chunk starts at 0, step, 2·step, …; the final chunk may be short.
    * One explode per doc, content-addressed chunks via md5 so the
    * output is stable for downstream dedup.
    */
  val t07Chunking = Q(
    "t07_chunking",
    (s, dir) => {
      import s.implicits._
      val toks = wsTokens($"text")
      val starts = sequence(lit(0), size(toks) - 1, lit(ChunkStep))
      Tables.documents(s, dir)
        .select($"doc_id", toks.as("toks"), explode(starts).as("start"))
        .select(
          $"doc_id",
          ($"start" / ChunkStep).cast("long").as("chunk_id"),
          size(slice($"toks", $"start" + 1, lit(ChunkSize))).as("n_tokens"),
          md5(array_join(slice($"toks", $"start" + 1, lit(ChunkSize)), " ")).as("chunk_hash"))
    },
    Some(s"""SELECT doc_id,
        CAST(start // $ChunkStep AS BIGINT) AS chunk_id,
        len(${wsTokensSql}[start+1:start+$ChunkSize]) AS n_tokens,
        md5(array_to_string(${wsTokensSql}[start+1:start+$ChunkSize], ' ')) AS chunk_hash
      FROM (
        SELECT doc_id, text, unnest(range(0, len(${wsTokensSql}), $ChunkStep)) AS start
        FROM documents)"""))

  /** TF-IDF with smoothed idf = ln((N+1)/(df+1)), top-3 terms per
    * document. Ranking happens on the ROUNDED score (engine contract)
    * with a term tie-break, so the top-3 is deterministic. Scale: two
    * aggregations over the exploded token stream (both collapse
    * map-side) + one term-keyed join; at 100 TB the document-frequency
    * side is vocabulary-sized and the join shuffles on term — AQE
    * handles the stopword-skewed keys.
    */
  val t08Tfidf = Q(
    "t08_tfidf",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      // driver-side corpus count: ONE scalar crosses the driver (the
      // idf numerator, a query parameter like the IQR brackets), at the
      // price of one extra count job — not a collect-of-data path
      val nDocs = docs.count()
      val tf = docs
        .select($"doc_id", explode(wsTokens($"text")).as("term"))
        .groupBy($"doc_id", $"term")
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term".asc)
      tf.join(dfreq, "term")
        .withColumn("score",
          round($"tf" * log((lit(nDocs.toDouble) + lit(1.0)) / ($"df" + lit(1.0))), 6))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"doc_id", $"rank", $"term", $"tf", $"score")
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, unnest($wsTokensSql) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT t.doc_id, t.term, t.tf,
          round(t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0)), 6) AS score
        FROM tf t JOIN dfreq d USING (term), n),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
        FROM scored)
      SELECT doc_id, rank, term, tf, score FROM ranked WHERE rank <= 3"""))

  /** PII-shaped redaction pass: count + scrub email addresses and long
    * digit runs (the pattern set stays in the RE2 ∩ java.regex common
    * dialect). Single projection, no shuffle — the standard pre-train
    * scrubbing shape.
    */
  val t09Redact = {
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val numRe = "[0-9]{6,}"
    Q(
      "t09_redact",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir).select(
          $"doc_id",
          regexp_count($"text", lit(emailRe)).cast("long").as("n_emails"),
          regexp_count($"text", lit(numRe)).cast("long").as("n_long_numbers"),
          length(
            regexp_replace(regexp_replace($"text", emailRe, "<EMAIL>"), numRe, "<NUM>"))
            .cast("long").as("n_chars_redacted"))
      },
      Some(s"""SELECT doc_id,
          len(regexp_extract_all(text, '$emailRe')) AS n_emails,
          len(regexp_extract_all(text, '$numRe')) AS n_long_numbers,
          length(regexp_replace(regexp_replace(text, '$emailRe', '<EMAIL>', 'g'),
            '$numRe', '<NUM>', 'g')) AS n_chars_redacted
        FROM documents"""))
  }

  /** Bigram language-model counts: top bigrams with conditional
    * probability P(w2|w1) = c(w1 w2) / c(w1 ·). Shingling runs on the
    * native one-pass `WordShingles` kernel (same contract as d02);
    * both aggregations collapse map-side, and the w1 join is the
    * classic skewed-key LM-count shuffle AQE splits at scale.
    */
  val t10BigramLm = Q(
    "t10_bigram_lm",
    (s, dir) => {
      import s.implicits._
      val bg = Tables.documents(s, dir)
        .select(explode(graft.operators.TextDedup.shingles($"text", 2)).as("bigram"))
        // documents with <2 tokens emit their whole text as one
        // degenerate shingle — drop those on both sides
        .filter(size(split($"bigram", " ")) === 2)
        .select($"bigram", split($"bigram", " ").getItem(0).as("w1"))
      val counts = bg.groupBy($"w1", $"bigram").agg(count(lit(1)).as("n_bigram"))
      val w1tot = counts.groupBy($"w1").agg(sum($"n_bigram").as("n_w1"))
      counts.join(w1tot, "w1")
        .withColumn("cond_p", round($"n_bigram" / $"n_w1", 6))
        .orderBy($"n_bigram".desc, $"bigram".asc)
        .limit(20)
        .select($"bigram", $"n_bigram", $"n_w1", $"cond_p")
    },
    Some(s"""WITH bg0 AS (
        SELECT unnest(${DedupQueries.shinglesSql(2)}) AS bigram FROM documents),
      bg AS (
        SELECT bigram, string_split(bigram, ' ')[1] AS w1 FROM bg0
        WHERE len(string_split(bigram, ' ')) = 2),
      counts AS (
        SELECT w1, bigram, count(*) AS n_bigram FROM bg GROUP BY w1, bigram),
      w1tot AS (
        SELECT w1, CAST(sum(n_bigram) AS BIGINT) AS n_w1 FROM counts GROUP BY w1)
      SELECT c.bigram, c.n_bigram, t.n_w1, round(c.n_bigram / t.n_w1, 6) AS cond_p
      FROM counts c JOIN w1tot t USING (w1)
      ORDER BY c.n_bigram DESC, c.bigram ASC LIMIT 20"""))

  private val PackCapacity = 512L // tokens per training sequence
  private val PackBuckets = 8

  /** Sequence packing (`operators.SeqPacking`): next-fit docs into
    * 512-token bins per hash bucket, deterministic (bucket, doc_id)
    * order. The DuckDB oracle replays the greedy fold with a recursive
    * CTE walking each bucket's rows in the same order — bin advances
    * when the fill would overflow, an oversized doc takes its own bin.
    * Output is each doc's bin assignment (the training-shard manifest).
    */
  val t11SeqPacking = Q(
    "t11_seq_packing",
    (s, dir) => graft.operators.SeqPacking.packDocuments(
      Tables.documents(s, dir), PackCapacity, PackBuckets),
    // oracle buckets with ((x % n) + n) % n, not bare %: Spark's pmod is
    // non-negative while DuckDB's % follows the dividend sign, so a
    // negative doc_id would land in a different bucket AND a different
    // packing order under bare %
    Some(s"""WITH RECURSIVE toks AS (
        SELECT doc_id,
          ((doc_id % $PackBuckets) + $PackBuckets) % $PackBuckets AS bucket,
          CAST(len($wsTokensSql) AS BIGINT) AS tok,
          row_number() OVER (
            PARTITION BY ((doc_id % $PackBuckets) + $PackBuckets) % $PackBuckets
            ORDER BY doc_id) AS rn
        FROM documents),
      pack AS (
        SELECT bucket, rn, doc_id, tok, CAST(1 AS BIGINT) AS bin_id, tok AS fill
        FROM toks WHERE rn = 1
        UNION ALL
        SELECT t.bucket, t.rn, t.doc_id, t.tok,
          CASE WHEN p.fill + t.tok <= $PackCapacity THEN p.bin_id ELSE p.bin_id + 1 END,
          CASE WHEN p.fill + t.tok <= $PackCapacity THEN p.fill + t.tok ELSE t.tok END
        FROM pack p JOIN toks t ON t.bucket = p.bucket AND t.rn = p.rn + 1)
      SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, bin_id, tok
      FROM pack"""))

  private val MixBudget = 700L // per-source token budget

  /** Data-mixture sampling: every source (domain) gets the same token
    * budget; its acceptance rate is COMPUTED from the corpus
    * (min(1, budget / source_tokens)) and applied as a deterministic
    * md5-bucket threshold — the domain-reweighting step of a training
    * mix, downstream of dedup and upstream of packing. Unlike q37
    * (fixed per-stratum rates) the rate here derives from measured
    * totals, so the oracle must replay the whole chain: token census →
    * integer threshold (one IEEE division + floor, bit-identical cross
    * engine) → hash gate. Stable under resharding/insertion for
    * already-present docs (q26's split property), "mix_" salt
    * decorrelates from q26/q37 assignments.
    *
    * Scale: two shuffles (source census, final rollup); the gate itself
    * is a codegen'd projection. Output is the per-source audit: rate
    * threshold, kept docs/tokens vs totals.
    *
    * Threshold robustness: the 700-token budget is oracle-green at
    * both verified SFs (20 sources → 20 rows at sf0.01 and sf0.1 — r6
    * `VerifyOne` + `check.py --skip-verify` runs); at sf0.1 each
    * source's threshold is 10× tighter, so the hash-gate arithmetic is
    * exercised at genuinely different acceptance rates.
    */
  val t12MixtureSample = Q(
    "t12_mixture_sample",
    (s, dir) => {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select($"doc_id", $"source", tokenCount($"text").cast("long").as("tok"))
      val totals = toks.groupBy($"source")
        .agg(sum($"tok").as("src_tokens"))
      val bucket = pmod(
        graft.functions.exprs.token_hash60(concat(lit("mix_"), $"doc_id".cast("string"))),
        lit(10000L))
      // greatest(src_tokens, 1): a source whose docs are all zero-token
      // would divide by 0 — Spark double division gives Infinity while
      // DuckDB gives NULL (CLAUDE.md invariant: guard every /0 path);
      // the guard is the same expression on both sides so the IEEE
      // division stays bit-identical
      toks.join(totals, "source")
        .withColumn("thr",
          least(lit(10000L),
            floor(lit(10000.0) * lit(MixBudget) / greatest($"src_tokens", lit(1L)))
              .cast("long")))
        .withColumn("keep", bucket < $"thr")
        .groupBy($"source", $"src_tokens", $"thr")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"keep".cast("long")).as("n_kept"),
          sum(when($"keep", $"tok").otherwise(0L)).as("kept_tokens"))
        .select($"source", $"src_tokens", $"thr".as("sample_threshold"),
          $"n_docs", $"n_kept", $"kept_tokens")
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, source, CAST(len($wsTokensSql) AS BIGINT) AS tok
        FROM documents),
      tot AS (
        SELECT source, CAST(sum(tok) AS BIGINT) AS src_tokens
        FROM toks GROUP BY source),
      gated AS (
        SELECT t.source, o.src_tokens, t.tok,
          least(10000, CAST(floor(10000.0 * $MixBudget / greatest(o.src_tokens, 1)) AS BIGINT)) AS thr,
          (CAST(('0x' || substr(md5('mix_' || CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % 10000) AS b
        FROM toks t JOIN tot o USING (source))
      SELECT source, src_tokens, thr AS sample_threshold,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN b < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN b < thr THEN tok ELSE 0 END) AS BIGINT) AS kept_tokens
      FROM gated GROUP BY source, src_tokens, thr"""))

  /** Intra-document repetition stats (t13) — the published Gopher /
    * RefinedWeb repetition heuristics re-expressed over token n-grams
    * (the synthetic corpus has no line structure): the fraction of
    * tokens covered by the most frequent 2-gram (2·max-count / tokens,
    * can exceed 1 for overlapping runs — the standard form) and the
    * fraction of 5-gram positions whose 5-gram occurs more than once.
    * High values mark boilerplate/looping documents that the dedup
    * ladder misses because they repeat WITHIN a doc, not across docs —
    * the quality filter that runs beside t03 in a pretraining pipeline.
    *
    * Scale: two (doc, n-gram) partial-agg shuffles carrying counts and
    * a three-way equi-join on doc_id, everything hash-partitioned on
    * the same key; nothing quadratic, no driver state. Degenerate
    * short docs (< n tokens) emit their whole text as one shingle —
    * one position, never "repeated". try_divide ↔ DuckDB `/0 = NULL`
    * for the zero-token edge (CLAUDE.md invariant). Delegates to
    * `operators.RepetitionFilter` (RepetitionFilterSpec plants a
    * looping doc to exercise the dup5 path, which the synthetic corpus
    * leaves at 0.0). Cross-SF: oracle green at sf0.01 (500 rows) and
    * sf0.1 (5000 rows), r6 `VerifyOne` + `check.py --skip-verify`.
    */
  val t13Repetition = Q(
    "t13_repetition",
    (s, dir) => graft.operators.RepetitionFilter
      .repetitionStats(Tables.documents(s, dir), "doc_id", "text"),
    Some(s"""WITH toks AS (
        SELECT doc_id, CAST(len($wsTokensSql) AS BIGINT) AS n_tok FROM documents),
      g2 AS (
        SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(${DedupQueries.shinglesSql(2)}) AS g FROM documents)
        GROUP BY doc_id, g),
      top2 AS (SELECT doc_id, max(c) AS top2 FROM g2 GROUP BY doc_id),
      g5 AS (
        SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(${DedupQueries.shinglesSql(5)}) AS g FROM documents)
        GROUP BY doc_id, g),
      dup5 AS (
        SELECT doc_id,
          sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_pos,
          sum(c) AS n_pos
        FROM g5 GROUP BY doc_id)
      SELECT t.doc_id,
        round(2.0 * top2 / n_tok, 4) AS top2gram_frac,
        round(dup_pos / n_pos, 4) AS dup5gram_frac
      FROM toks t JOIN top2 USING (doc_id) JOIN dup5 USING (doc_id)"""),
    headline = true)

  /** Bigram-LM perplexity per document (`operators.PerplexityScore` —
    * the CCNet-style model-based quality gate): t10's conditional
    * bigram model, scored back over each doc's bigram stream as
    * ppl = exp(−mean ln P(w2|w1)). Heuristic filters (t03/t13) catch
    * structural junk; the perplexity gate catches fluent-looking noise
    * they pass. cond_p is rounded to 6 dp BEFORE the log on both
    * engines, so the only cross-engine freedom is double summation
    * order — absorbed by the 4 dp rounding of the final ppl. Docs with
    * < 2 tokens have no bigram and are absent on both sides.
    *
    * Scale: two partial-agg shuffles build the LM, one equi-join on
    * the bigram key scores it, one per-doc aggregate — nothing
    * driver-side. At 100 TB the LM trains on a sample, truncates to
    * top-M bigrams + an unseen floor, and broadcasts (the
    * `unseenFloor` parameter); here the corpus is its own model.
    * Cross-SF: oracle green at sf0.001/0.01/0.1 (500/500/5000 rows —
    * every synthetic doc has ≥ 2 tokens, so none drop out).
    */
  val t14Perplexity = Q(
    "t14_perplexity",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val lm = graft.operators.PerplexityScore.bigramLm(docs, "doc_id", "text")
      graft.operators.PerplexityScore
        .scorePerplexity(docs, "doc_id", "text", lm)
    },
    Some(s"""WITH bg0 AS (
        SELECT doc_id, unnest(${DedupQueries.shinglesSql(2)}) AS bigram FROM documents),
      bg AS (
        SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1 FROM bg0
        WHERE len(string_split(bigram, ' ')) = 2),
      counts AS (
        SELECT w1, bigram, count(*) AS n_bigram FROM bg GROUP BY w1, bigram),
      w1tot AS (
        SELECT w1, CAST(sum(n_bigram) AS BIGINT) AS n_w1 FROM counts GROUP BY w1),
      lm AS (
        SELECT bigram, round(n_bigram / n_w1, 6) AS cond_p
        FROM counts JOIN w1tot USING (w1))
      SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        round(exp(-avg(ln(l.cond_p))), 4) AS ppl
      FROM bg b JOIN lm l USING (bigram)
      GROUP BY b.doc_id"""),
    headline = true)

  /** t14b: interpolated Kneser–Ney perplexity on a held-out split —
    * the smoothing CCNet's KenLM models actually use, beside t14's
    * maximum-likelihood gate. Train on doc_id % 5 ≠ 0, score the
    * held-out 1-in-5: held-out text genuinely contains bigrams the
    * model never saw, so the discount/continuation machinery (not
    * just the seen-bigram path) is what the oracle checks.
    * P(w2|w1) = (max(c−D,0) + D·N1+(w1·)·Pcont(w2))/c(w1·), D = 0.75,
    * Pcont from continuation counts; unseen contexts back off to
    * Pcont; fully-unseen words floor at 1e-6. Probabilities rounded
    * 6 dp pre-log, ppl 4 dp (t14's determinism contract; identical
    * op order both engines). PerplexityScoreSpec pins KN ranking
    * held-out docs better than add-one on the same split.
    *
    * Scale: three censuses over the train bigram stream + a 1-row
    * type count attached by broadcast (X10), three left equi-joins to
    * score, one per-doc aggregate — [[graft.operators
    * .PerplexityScore.scorePerplexityKN]]'s scale note applies.
    */
  val t14bKnPerplexity = Q(
    "t14b_kn_perplexity",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      graft.operators.PerplexityScore.scorePerplexityKN(
        docs.filter($"doc_id" % 5 === 0),
        docs.filter($"doc_id" % 5 =!= 0),
        "doc_id", "text")
    },
    Some(s"""WITH bg0 AS (
        SELECT doc_id, unnest(${DedupQueries.shinglesSql(2)}) AS bigram FROM documents),
      bg AS (
        SELECT doc_id, bigram,
          string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2
        FROM bg0 WHERE len(string_split(bigram, ' ')) = 2),
      tb AS (SELECT * FROM bg WHERE doc_id % 5 <> 0),
      hb AS (SELECT * FROM bg WHERE doc_id % 5 = 0),
      counts AS (
        SELECT w1, w2, bigram, count(*) AS n12 FROM tb GROUP BY 1, 2, 3),
      cnt AS (SELECT bigram, n12 FROM counts),
      ctx AS (
        SELECT w1, CAST(sum(n12) AS BIGINT) AS c1, count(*) AS n1p_fw
        FROM counts GROUP BY 1),
      cont AS (SELECT w2, count(*) AS n1p_bw FROM counts GROUP BY 1),
      types AS (
        SELECT count(*) AS t_types, count(DISTINCT w2) AS w2_types FROM counts),
      vocab AS (
        SELECT count(DISTINCT w1) AS v_sz
        FROM (SELECT w1 FROM tb UNION ALL SELECT w2 FROM tb)),
      scored AS (
        -- outer greatest: a sub-5e-7 KN probability rounds to 0.0 at
        -- 6 dp and ln(0) would blow up — the floor wins, same as Spark
        SELECT doc_id,
          greatest(round(
            CASE WHEN c1 IS NOT NULL THEN
              (greatest(coalesce(n12, 0) - 0.75, 0) + 0.75 * n1p_fw * pc) / c1
            ELSE pc END, 6), 0.000001) AS p
        FROM (
          SELECT hb.doc_id, n12, c1, n1p_fw,
            round((greatest(coalesce(n1p_bw, 0) - 0.75, 0) +
              0.75 * w2_types / v_sz) / t_types, 6) AS pc
          FROM hb
          LEFT JOIN cnt USING (bigram)
          LEFT JOIN ctx USING (w1)
          LEFT JOIN cont USING (w2)
          CROSS JOIN types CROSS JOIN vocab))
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        round(exp(-avg(ln(p))), 4) AS ppl
      FROM scored GROUP BY doc_id"""),
    headline = true)

  private val ShardSalt = "epoch0_"
  private val NShards = 16L

  /** Deterministic epoch shuffle (`operators.Sharding`): the salted
    * md5-hash permutation + shard assignment a training run executes
    * before reading the corpus — reproducible without RNG state, a new
    * permutation per epoch salt, shard stable in (salt, id) under
    * corpus growth (ShardingSpec). One hash projection, one shuffle on
    * shard, one within-shard sort; at 100 TB nShards is sized in the
    * thousands so every shard sorts a bounded slice in parallel.
    */
  val t15ShardShuffle = Q(
    "t15_shard_shuffle",
    (s, dir) => graft.operators.Sharding.epochShuffle(
      Tables.documents(s, dir), "doc_id", ShardSalt, NShards),
    // hash is non-negative (60-bit), so DuckDB's sign-of-dividend `%`
    // agrees with Spark's pmod here
    Some(s"""WITH h AS (
        SELECT doc_id,
          CAST(('0x' || substr(md5('$ShardSalt' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM documents)
      SELECT doc_id, CAST(h % $NShards AS BIGINT) AS shard,
        CAST(row_number() OVER (
          PARTITION BY h % $NShards ORDER BY h ASC, doc_id ASC) AS BIGINT) AS pos
      FROM h"""))

  private val BpeMerges = 6

  /** BPE tokenizer training (operators.BpeTrainer): the first
    * `BpeMerges` learned merges with their pair frequencies — the
    * textbook iterative pair-merge loop, deterministic via the
    * (pf desc, left asc, right asc) tie-break. The oracle replays the
    * ENTIRE training loop in DuckDB: one MATERIALIZED CTE block per
    * round (materialization matters — DuckDB 1.0 inlines plain CTEs
    * and the chained rounds would blow up exponentially), with merge
    * application via literal `replace` on the self-delimited
    * `<sym><sym>` string form, which is left-to-right non-overlapping
    * in both engines — exactly BPE's greedy order. On this corpus the
    * 6th merge is (m, er): a multi-char symbol learned from an
    * earlier round, so the oracle genuinely exercises the iteration,
    * not just a bigram census.
    */
  val t16BpeMerges = Q(
    "t16_bpe_merges",
    (s, dir) =>
      graft.operators.BpeTrainer
        .learnMergesDF(Tables.documents(s, dir), "text", BpeMerges),
    Some {
      def roundSql(r: Int) = s"""
      pairs$r AS MATERIALIZED (
        SELECT z[1] AS l, z[2] AS r, CAST(sum(freq) AS BIGINT) AS pf
        FROM enc$r, LATERAL (
          SELECT unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS z) AS t
        WHERE len(syms) >= 2
        GROUP BY z[1], z[2]),
      top$r AS MATERIALIZED (
        SELECT l, r, pf FROM pairs$r ORDER BY pf DESC, l ASC, r ASC LIMIT 1),
      enc${r + 1} AS MATERIALIZED (
        SELECT freq, s, regexp_extract_all(s, '<([^>]*)>', 1) AS syms
        FROM (
          SELECT freq,
            replace(s, '<' || (SELECT l FROM top$r) || '><' || (SELECT r FROM top$r) || '>',
                       '<' || (SELECT l FROM top$r) || (SELECT r FROM top$r) || '>') AS s
          FROM enc$r))"""
      val rounds = (0 until BpeMerges).map(roundSql).mkString(",")
      val sel = (0 until BpeMerges).map(r =>
        s"SELECT CAST(${r + 1} AS BIGINT) AS step, l AS left_sym, r AS right_sym, pf AS pair_freq FROM top$r")
        .mkString(" UNION ALL ")
      s"""WITH words AS MATERIALIZED (
        SELECT w, count(*) AS freq FROM (
          SELECT unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS w
          FROM documents)
        WHERE regexp_matches(w, '^[A-Za-z0-9]+$$')
        GROUP BY w),
      enc0 AS MATERIALIZED (
        SELECT freq, '<' || array_to_string(string_split_regex(w, ''), '><') || '>' AS s,
          string_split_regex(w, '') AS syms
        FROM words),$rounds
      SELECT * FROM ($sel) ORDER BY step"""
    })

  private val QcTau = 0.65 // weak-label threshold on the t03 score
  private val QcBuckets = 64

  /** The t03 composite quality score as SQL (rounded 4 dp, exactly the
    * t03 oracle's expression) — t17 thresholds it into weak labels.
    */
  private def qsSql(tbl: String): String =
    s"""round(CASE WHEN len(list_filter(string_split_regex($tbl.text, '\\s+'), t -> t <> '')) < 5 THEN 0.0
        ELSE 1.0
          - abs(len(list_filter(list_filter(string_split_regex($tbl.text, '\\s+'), t -> t <> ''),
              t -> t IN ('the','a','an','of','and','to','is','in','it','that')))
            * 1.0 / len(list_filter(string_split_regex($tbl.text, '\\s+'), t -> t <> '')) - 0.4)
          - length(regexp_replace($tbl.text, '[a-z0-9 ]', '', 'g')) * 1.0 / length($tbl.text)
        END, 4)"""

  /** Trained quality classifier (`operators.QualityClassifier`) — the
    * model-based gate beside the heuristic (t03) and perplexity (t14)
    * rungs of the hygiene ladder: weak labels from the t03 score
    * thresholded at $QcTau (the GPT-3/CCNet distant-supervision
    * setup), Naive-Bayes log-odds weights over 64 hashed token
    * buckets, sigmoid scores for every doc. Training AND scoring are
    * closed-form, so the DuckDB oracle replays the whole thing:
    * labeling, both token censuses, the smoothed weight table, the
    * per-doc dot product, and the rounded sigmoid. QualityClassifierSpec
    * pins the semantics the replay can't: planted boilerplate must
    * score below clean prose.
    */
  val t17QualityClassifier = Q(
    "t17_quality_classifier",
    (s, dir) => {
      import s.implicits._
      val toks = wsTokens($"text")
      val nToks = size(toks).cast("double")
      val stopHits = tokensInSet(toks, stopwords).cast("double")
      val punct = length(regexp_replace($"text", "[a-z0-9 ]", "")).cast("double")
      val qs = round(
        when(nToks < 5, 0.0).otherwise(
          lit(1.0) - abs(stopHits / nToks - lit(0.4)) - punct / length($"text")),
        4)
      val labeled = Tables.documents(s, dir)
        .select($"doc_id", $"text",
          when(qs >= QcTau, 1).otherwise(0).as("weak_label"))
      graft.operators.QualityClassifier
        .trainAndScore(labeled, "doc_id", "text", "weak_label", QcBuckets)
    },
    Some(s"""WITH lab AS (
        SELECT doc_id, text,
          CASE WHEN ${qsSql("documents")} >= $QcTau THEN 1 ELSE 0 END AS weak_label
        FROM documents),
      tok AS (
        SELECT doc_id, weak_label,
          unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS tok
        FROM lab),
      tb AS (
        SELECT doc_id, weak_label,
          CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % $QcBuckets AS b
        FROM tok),
      cls AS (SELECT weak_label, b, count(*) AS cc FROM tb GROUP BY weak_label, b),
      tot AS (SELECT
          sum(CASE WHEN weak_label = 1 THEN cc ELSE 0 END) AS pos_tot,
          sum(CASE WHEN weak_label = 0 THEN cc ELSE 0 END) AS neg_tot
        FROM cls),
      spine AS (SELECT unnest(range($QcBuckets)) AS b),
      wts AS (
        SELECT s.b,
          round(ln((COALESCE(p.cc, 0) + 1.0) / (t.pos_tot + $QcBuckets.0))
              - ln((COALESCE(n.cc, 0) + 1.0) / (t.neg_tot + $QcBuckets.0)), 6) AS w
        FROM spine s
        LEFT JOIN cls p ON p.b = s.b AND p.weak_label = 1
        LEFT JOIN cls n ON n.b = s.b AND n.weak_label = 0
        CROSS JOIN tot t),
      nd AS (SELECT
          sum(CASE WHEN weak_label = 1 THEN 1 ELSE 0 END) AS npos,
          sum(CASE WHEN weak_label = 0 THEN 1 ELSE 0 END) AS nneg
        FROM lab),
      perdoc AS (SELECT doc_id, b, count(*) AS cnt FROM tb GROUP BY doc_id, b),
      dots AS (
        SELECT d.doc_id, sum(d.cnt * w.w) AS dt
        FROM perdoc d JOIN wts w ON d.b = w.b GROUP BY d.doc_id),
      scored AS (
        SELECT l.doc_id, l.weak_label,
          round(round(ln((n.npos + 1.0) / (n.nneg + 1.0)), 6)
              + COALESCE(d.dt, 0.0), 6) AS logit
        FROM lab l LEFT JOIN dots d ON l.doc_id = d.doc_id CROSS JOIN nd n)
      SELECT doc_id, CAST(weak_label AS BIGINT) AS weak_label, logit,
        round(1.0 / (1.0 + exp(-logit)), 4) AS prob_pos
      FROM scored"""))

  private val WsK = 20 // sample size per source

  /** Weighted per-domain sampling (`operators.WeightedSample` —
    * Efraimidis–Spirakis): 20 docs per source drawn without
    * replacement with probability ∝ n_chars (length-weighted corpus
    * subsampling, the fixed-size sibling of t12's budget gates).
    * Deterministic: u comes from the portable md5 hash of doc_id, so
    * the DuckDB oracle replays the exact selection — key = ln(u)/w
    * rounded 6 dp, ranked desc with id ties.
    */
  val t18WeightedSample = Q(
    "t18_weighted_sample",
    (s, dir) => {
      import s.implicits._
      graft.operators.WeightedSample
        .samplePerGroup(Tables.documents(s, dir), "source", "doc_id", "n_chars", WsK)
        .select($"source", $"rank", $"doc_id", $"samp_key")
    },
    Some(s"""WITH keyed AS (
        SELECT source, doc_id,
          -- + 0.0 normalizes IEEE negative zero: a hash near 2^60 makes
          -- ln(...) round to -0.0 here while Spark's BigDecimal round
          -- has no signed zero (first split at sf1); x + 0.0 is
          -- bit-exact identity for every other double
          round(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)::DOUBLE
                   / 1152921504606846976.0) / n_chars, 6) + 0.0 AS samp_key
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY source ORDER BY samp_key DESC, doc_id ASC) AS rank
        FROM keyed)
      SELECT source, rank, doc_id, samp_key
      FROM ranked WHERE rank <= $WsK"""))

  /** Unicode/text-hygiene normalization — the stage a production
    * corpus pipeline runs FIRST, ahead of every heuristic gate (t03 →
    * t13 → t14 → t17): NFC composition, control/zero-width stripping,
    * whitespace collapse + trim, as ONE codegen'd kernel call per
    * document (`graft.functions.NormalizeText` — the per-character
    * loop is exactly where interpreted higher-order functions die).
    * Zero shuffles: a pure projection. The synthetic corpus is clean
    * ASCII, so `changed` is all-false HERE — the oracle still replays
    * the full nfc_normalize → strip → collapse chain byte-for-byte,
    * and NormalizeTextSpec carries the planted-mess evidence
    * (combining marks, zero-widths, NBSP, C0/C1 controls).
    */
  val t19Normalize = Q(
    "t19_normalize",
    (s, dir) => {
      import s.implicits._
      val norm = graft.functions.exprs.normalize_text($"text")
      Tables.documents(s, dir).select(
        $"doc_id",
        norm.as("norm_text"),
        (norm =!= $"text").as("changed"),
        length(norm).as("n_chars_norm"))
    },
    Some(s"""SELECT doc_id,
        $normSql AS norm_text,
        $normSql <> text AS changed,
        length($normSql) AS n_chars_norm
      FROM documents"""))

  /** The oracle side of [[t19Normalize]]'s transform — NFC, then the
    * stripped-character class, then whitespace+Zs collapse and trim
    * (kept in sync with `NormalizeExprImpl`).
    */
  private def normSql: String =
    """trim(regexp_replace(regexp_replace(nfc_normalize(text),
       '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f\x{200b}-\x{200f}\x{2060}\x{feff}]', '', 'g'),
       '[\t\n\r \p{Zs}]+', ' ', 'g'), ' ')"""

  private val DsirB = graft.operators.Dsir.DefaultBuckets
  private val DsirTopK = 50

  /** DSIR-style importance-weighted data selection (`operators.Dsir`,
    * Xie et al. 2023): hashed-bigram unigram models of a TARGET
    * domain (sources src0/src1) and the raw corpus; every document
    * weighted by its log importance ratio; top-50 selected
    * deterministically (weight desc, id ties). `from_target` audits
    * how much of the selection really comes from the target domain.
    * Model-sized state throughout (4096 hashed buckets, broadcast);
    * the 6 dp-per-term / 4 dp-per-doc rounding makes the weights
    * engine-portable, so the oracle replays the full selection.
    */
  val t20Dsir = Q(
    "t20_dsir_select",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val weighted = graft.operators.Dsir.importanceWeights(
        docs.withColumn("is_tgt", $"source".isin("src0", "src1")),
        "doc_id", "text", "is_tgt", DsirB)
      // Top-50 selection via TakeOrderedAndProject (per-partition
      // heaps over the corpus-sized weight frame — strictly better at
      // scale than the old global rank window, which sorted the whole
      // frame through one partition) + driver-side rank on the 50-row
      // result (QueryUtil.withRank); the metadata join then
      // broadcasts the 50-row side.
      QueryUtil.withRank(
          weighted.orderBy($"log_ratio".desc, $"doc_id".asc).limit(DsirTopK))
        .join(docs.select($"doc_id", $"source".isin("src0", "src1").as("from_target")),
          Seq("doc_id"))
        .select($"doc_id", $"n_feats", $"log_ratio", $"rank", $"from_target")
    },
    Some(s"""WITH sh2 AS (
        SELECT doc_id, source, unnest(${DedupQueries.shinglesSql(2)}) AS sh
        FROM documents),
      feats AS (
        SELECT doc_id, source IN ('src0', 'src1') AS tgt,
          CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % $DsirB AS f
        FROM sh2 WHERE len(string_split(sh, ' ')) = 2),
      raw AS (SELECT f, count(*) AS nr FROM feats GROUP BY f),
      tgtc AS (SELECT f, count(*) AS nt FROM feats WHERE tgt GROUP BY f),
      tot AS (SELECT count(*) AS r_tot,
        sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS t_tot FROM feats),
      lr AS (
        SELECT raw.f,
          round(ln((COALESCE(nt, 0) + 1) / (t_tot + $DsirB))
              - ln((nr + 1) / (r_tot + $DsirB)), 6) AS lrv
        FROM raw LEFT JOIN tgtc ON raw.f = tgtc.f, tot),
      sc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
          round(sum(lrv), 4) AS log_ratio
        FROM feats JOIN lr ON feats.f = lr.f GROUP BY doc_id),
      rk AS (
        SELECT *, row_number() OVER (ORDER BY log_ratio DESC, doc_id ASC) AS rank
        FROM sc)
      SELECT r.doc_id, n_feats, log_ratio, rank,
        (d.source IN ('src0', 'src1')) AS from_target
      FROM rk r JOIN documents d ON d.doc_id = r.doc_id
      WHERE rank <= $DsirTopK"""))

  /** t21: TextRank keyword salience — PageRank over the token
    * co-occurrence graph (see `operators.TextRank` for the full design
    * and determinism notes). One corpus pass for the edge census; ten
    * integer-micro PageRank rounds on the vocab-sized graph; the
    * DuckDB oracle replays the iteration bit-for-bit via an unrolled
    * CTE chain.
    */
  val t21TextRank = Q(
    "t21_textrank",
    (s, dir) => graft.operators.TextRank.ranks(
      Tables.documents(s, dir), "text"),
    Some(s"WITH ${graft.operators.TextRank.ranksSql(DedupQueries.shinglesSql(2))}"),
    headline = true)

  /** t22: leakage-safe train/val/test split — q26's deterministic
    * hash split with the bucket taken on the near-dup CLUSTER id, not
    * the document id. Splitting by document leaks: a near-duplicate
    * pair straddling train and test inflates eval (the GPT-3 paper's
    * contamination appendix is this exact failure). Assigning whole
    * d06 components keeps every near-dup family on ONE side by
    * construction — the guarantee is structural, not statistical —
    * while singletons (the vast majority) still spread 80/10/10 by
    * their own id hash (cluster_id = the component's min doc id =
    * their own id).
    *
    * Scale shape: the cluster labels come from the salted LSH chain
    * (d03/d06's machinery — banded signatures, skew-salted band join,
    * checkpointed min-label propagation), whose frame is bounded by
    * docs-in-candidate-pairs, typically ≪ corpus; the corpus is then
    * touched by exactly ONE left join on doc_id to attach labels and
    * one codegen'd hash projection. At 100 TB that join's corpus side
    * shuffles once on doc_id (or rides bucketed storage for free) and
    * the comps side is usually broadcast-sized.
    *
    * Determinism contract: the bucket is the engine-portable
    * md5-prefix hash (q26's convention) of CAST(cluster_id AS STRING);
    * ranking-free, so no tie-break subtleties.
    */
  val t22LeakageSplit = Q(
    "t22_leakage_split",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val pairs = graft.operators.TextDedup
        .minhashCandidates(docs, "doc_id", "text")
        .filter($"est_sim" >= 0.5)
        .select($"doc_a", $"doc_b")
      val comps = graft.operators.NearDupClusters.connectedComponents(pairs)
      val bucket = pmod(
        graft.functions.exprs.token_hash60($"cluster_id".cast("string")), lit(100L))
      docs.join(comps, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"comp", $"doc_id").as("cluster_id"))
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
    },
    Some {
      val d03Sql = DedupQueries.d03MinhashLsh.oracle.get
      s"""WITH RECURSIVE lshpairs AS (
        SELECT doc_a, doc_b FROM ($d03Sql) WHERE est_sim >= 0.5),
      und AS (
        SELECT doc_a AS a, doc_b AS b FROM lshpairs
        UNION SELECT doc_b, doc_a FROM lshpairs),
      reach AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
      comps AS (
        SELECT a AS doc_id, least(a, min(b)) AS comp
        FROM reach GROUP BY a)
      SELECT d.doc_id,
        coalesce(c.comp, d.doc_id) AS cluster_id,
        CASE
          WHEN CAST(('0x' || substr(md5(CAST(coalesce(c.comp, d.doc_id) AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
          WHEN CAST(('0x' || substr(md5(CAST(coalesce(c.comp, d.doc_id) AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
          ELSE 'test' END AS split
      FROM documents d LEFT JOIN comps c USING (doc_id)"""
    },
    headline = true)

  /** t23: exact-substring scrub — remove cross-document duplicated
    * spans from the TEXT, not the corpus (Lee et al. 2021's ExactSubstr:
    * dedup the repeated passages themselves; d09 is the doc-budget
    * face of the same census, this is the rewrite face). Every
    * occurrence of a 5-token span seen in ≥ 2 distinct documents has
    * its token positions dropped; survivors re-join with single
    * spaces; all docs come back whitespace-canonicalized.
    *
    * Scale shape (see `SpanDedup.scrubSpans`): one shingle-kernel
    * corpus pass → checkpointed (id, pos, hash) span frame; a
    * (hash, count) census shuffle; covered-position explode bounded
    * by duplicated text volume; one doc-id join + one codegen'd
    * `scrub_tokens` kernel call per doc for the rewrite. The oracle
    * replays span positions, the census, coverage and the ordered
    * re-join byte-for-byte (string_agg ORDER BY position).
    */
  val t23SpanScrub = Q(
    "t23_span_scrub",
    (s, dir) =>
      graft.operators.SpanDedup.scrubSpans(
        Tables.documents(s, dir), "doc_id", "text", n = 5),
    Some("""WITH base AS (
        SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
        FROM documents),
      sp0 AS (
        SELECT doc_id, toks,
          unnest(range(0, greatest(1, len(toks) - 4))) AS pos
        FROM base),
      sp AS (
        SELECT doc_id, pos,
          CAST(('0x' || substr(md5(array_to_string(toks[pos+1:pos+5], ' ')), 1, 15)) AS BIGINT) AS h
        FROM sp0),
      census AS (
        SELECT h, count(*) AS nd
        FROM (SELECT DISTINCT doc_id, h FROM sp) GROUP BY h),
      cov AS (SELECT DISTINCT doc_id, cp FROM (
        SELECT s.doc_id, unnest(range(s.pos, s.pos + 5)) AS cp
        FROM sp s JOIN census c USING (h) WHERE c.nd >= 2)),
      tok0 AS (
        SELECT doc_id, toks, unnest(range(0, len(toks))) AS pos FROM base),
      tokpos AS (SELECT doc_id, pos, toks[pos+1] AS tok FROM tok0),
      kept AS (
        SELECT t.doc_id,
          CAST(count(*) AS BIGINT) AS n_tok,
          CAST(sum(CASE WHEN cv.cp IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
          coalesce(string_agg(tok, ' ' ORDER BY t.pos) FILTER (WHERE cv.cp IS NULL), '') AS kept_text
        FROM tokpos t LEFT JOIN cov cv
          ON t.doc_id = cv.doc_id AND t.pos = cv.cp
        GROUP BY t.doc_id)
      SELECT d.doc_id, CAST(coalesce(k.n_tok, 0) AS BIGINT) AS n_tok,
        CAST(coalesce(k.n_removed, 0) AS BIGINT) AS n_removed,
        coalesce(k.kept_text, '') AS kept_text
      FROM documents d LEFT JOIN kept k USING (doc_id)"""),
    headline = true)

  /** t24: corpus-wide BPE tokenization — the APPLY face of t16's
    * training (train once, tokenize everything: the pass a data
    * pipeline runs to budget token counts, pack sequences, and price
    * a corpus). Merges are learned from the corpus itself (t16's
    * config, batched passes), then every alphanumeric word is
    * segmented by the native greedy-rank kernel and per-document
    * token counts + chars-per-token compression ratios come out.
    *
    * Scale shape: two map-side corpus passes — a vocab-partial word
    * census for training, then one explode_outer + broadcast LEFT
    * (w → nt) join + doc_id aggregate that emits every document's row
    * directly (no third scan / join-back for token-less docs; r21).
    * Training's driver fast path returns each
    * census word's final token count for free, so no occurrence is
    * ever segmented; past the driver-census budget the fallback
    * trains distributed and runs the codegen'd `bpe_segment_word`
    * kernel once per DISTINCT word (merge table as driver state,
    * `PqEncodeCode`'s pattern — O(1) plan nodes at any vocab size).
    * A shared per-(doc, word) count frame measured SLOWER than the
    * second pass: its (doc_id, w) shuffle + checkpoint outweigh a
    * map-only re-explode.
    *
    * Determinism: the kernel's greedy lowest-rank segmentation equals
    * the oracle's training-order chained replaces for collision-free
    * merge tables, and sequentially-trained tables are collision-free
    * (both pinned in BpeTrainerSpec); the oracle carries each word
    * through the SAME training chain t16 replays, then counts the
    * final symbols per word and joins back to the document stream.
    */
  val t24BpeTokenize = Q(
    "t24_bpe_tokenize",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      // spread the corpus first (CLAUDE.md s01/s12 pattern): both
      // passes below are map-side on the scan's partitioning, and a
      // single-file corpus scans 1-2 wide. A shared per-(doc, word)
      // frame was measured SLOWER here: its (doc_id, w) shuffle +
      // checkpoint cost more than the second map-only explode.
      val words = docs
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id",
          explode(graft.functions.TextFunctions.wsTokens($"text")).as("w"))
        .filter($"w".rlike("^[A-Za-z0-9]+$"))
      val census = graft.operators.BpeTrainer.wordCensus(
        words.groupBy($"w").agg(count(lit(1)).as("freq")))
      // driver fast path: training also yields each word's final
      // token count, broadcast-joined back — no per-occurrence
      // segmentation. Census over the driver budget → distributed
      // training + the greedy-rank kernel per DISTINCT word (both
      // stay vocab-sized).
      val perWord = graft.operators.BpeTrainer
        .learnMergesWithCounts(census, BpeMerges) match {
        case Some((_, counts)) => broadcast(counts.toDF("w", "nt"))
        case None =>
          val merges = graft.operators.BpeTrainer
            .learnMerges(docs, "text", BpeMerges, batched = true,
              collectVocabMax = 0)
          broadcast(census.select($"w",
            size(graft.functions.exprs.bpe_segment_word($"w",
              merges.map(m => Array(m.left_sym, m.right_sym)).toArray))
              .as("nt")))
      }
      // r21 (guide §2.4/§3): the old output pass filtered to
      // alphanumeric tokens, inner-joined the vocab, aggregated by
      // doc_id, then LEFT-joined back to a THIRD doc_id scan to
      // resurrect token-less documents — 2 scans, 3 exchanges,
      // 2 joins. explode_outer keeps one row per document even when
      // it has no tokens, the broadcast LEFT join tags each token
      // with its trained count (the vocab holds EVERY alphanumeric
      // census word of this same corpus, so a miss is exactly a
      // non-alphanumeric token), and ONE doc aggregate emits every
      // output row directly: 1 scan, 2 exchanges, 1 join.
      val toks = docs
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id",
          explode_outer(graft.functions.TextFunctions.wsTokens($"text")).as("w"))
      toks.join(perWord, Seq("w"), "left")
        .groupBy($"doc_id")
        .agg(
          count(when($"w".rlike("^[A-Za-z0-9]+$"), lit(1))).cast("long")
            .as("n_words"),
          sum($"nt").cast("long").as("n_bpe_tokens"))
        .select($"doc_id",
          $"n_words",
          coalesce($"n_bpe_tokens", lit(0L)).as("n_bpe_tokens"),
          round(try_divide(
            coalesce($"n_bpe_tokens", lit(0L)), $"n_words"), 4)
            .as("tokens_per_word"))
    },
    Some {
      // t16's training chain, but each enc round CARRIES the word so
      // the final round doubles as the corpus-wide segmentation map
      def roundSql(r: Int) = s"""
      pairs$r AS MATERIALIZED (
        SELECT z[1] AS l, z[2] AS r, CAST(sum(freq) AS BIGINT) AS pf
        FROM enc$r, LATERAL (
          SELECT unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS z) AS t
        WHERE len(syms) >= 2
        GROUP BY z[1], z[2]),
      top$r AS MATERIALIZED (
        SELECT l, r, pf FROM pairs$r ORDER BY pf DESC, l ASC, r ASC LIMIT 1),
      enc${r + 1} AS MATERIALIZED (
        SELECT w, freq, s, regexp_extract_all(s, '<([^>]*)>', 1) AS syms
        FROM (
          SELECT w, freq,
            replace(s, '<' || (SELECT l FROM top$r) || '><' || (SELECT r FROM top$r) || '>',
                       '<' || (SELECT l FROM top$r) || (SELECT r FROM top$r) || '>') AS s
          FROM enc$r))"""
      val rounds = (0 until BpeMerges).map(roundSql).mkString(",")
      s"""WITH words AS MATERIALIZED (
        SELECT w, count(*) AS freq FROM (
          SELECT unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS w
          FROM documents)
        WHERE regexp_matches(w, '^[A-Za-z0-9]+$$')
        GROUP BY w),
      enc0 AS MATERIALIZED (
        SELECT w, freq, '<' || array_to_string(string_split_regex(w, ''), '><') || '>' AS s,
          string_split_regex(w, '') AS syms
        FROM words),$rounds,
      final AS (SELECT w, CAST(len(syms) AS BIGINT) AS nt FROM enc$BpeMerges),
      doctoks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS w
        FROM documents),
      agg AS (
        SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
          CAST(sum(f.nt) AS BIGINT) AS n_bpe_tokens
        FROM doctoks d JOIN final f USING (w)
        WHERE regexp_matches(d.w, '^[A-Za-z0-9]+$$')
        GROUP BY 1)
      SELECT doc.doc_id,
        coalesce(a.n_words, 0) AS n_words,
        coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens,
        round(coalesce(a.n_bpe_tokens, 0) / coalesce(a.n_words, 0), 4) AS tokens_per_word
      FROM documents doc LEFT JOIN agg a USING (doc_id)"""
    },
    headline = true)

  /** t25: vocabulary-growth census (Heaps' law measurement): how many
    * NEW word types each corpus decile introduces, with cumulative
    * types and tokens — the curve that prices tokenizer vocab sizes
    * and predicts type growth when a corpus 10×es. Decile of a token
    * = decile of the FIRST document containing it, so the curve is
    * exactly "read the corpus in doc_id order, count first sightings".
    *
    * Scale shape (r21): ONE per-type aggregate over the token stream —
    * 10 per-decile occurrence counters + the first-sighting decile,
    * all map-side partials, the plan's only corpus-scale shuffle
    * carries vocab-sized partial rows — then ONE 1-row global roll-up
    * (per-decile token totals + first-sighting type counts). The
    * corpus count rides as a 1-row broadcast (X10 pattern); unpivot
    * and cumulative sums are driver arithmetic over the single row.
    * All integers end-to-end: decile = (doc_id·10) div n_docs, exact
    * on both engines.
    */
  /** t25's pre-collect one-row roll-up, exposed for plan audits (the
    * registry df itself is driver-built post-collect, so Explain and
    * PlanShapeSpec would only ever see a LocalTableScan).
    *
    * r21 rework (guide §2.3/§2.4): the old shape computed a
    * (type, decile) census consumed by TWO branches (min-decile per
    * type, per-decile totals) whose shared exchange depended on AQE
    * runtime stage reuse plus a tautological `cnt > 0` filter to keep
    * the branches canonically equal, then joined and sorted them —
    * 4 exchanges, a join, a sort, and a reuse-pin that only held under
    * collect(). Deciles are a FIXED 10-value domain, so the whole
    * curve pivots into ONE per-type aggregate (10 per-decile
    * occurrence counters + the first-sighting decile, all map-side
    * partials; first sighting is min(decile) per type — decile is
    * monotone in doc_id, so decile(min(doc_id)) = min(decile)) and ONE
    * 1-row global roll-up (per-decile token totals + first-sighting
    * type counts): 4 exchanges total (corpus spread, the 1-row
    * corpus-count aggregate, the per-type hash aggregate, the
    * single-row roll-up — PlanShapeSpec pins the count), zero joins,
    * no runtime-reuse dependency. All integers end-to-end, so
    * cross-engine equality is exact.
    */
  private[graft] def t25Base(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val toks = docs
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id",
          explode(graft.functions.TextFunctions.wsTokens($"text")).as("tok"))
      // the corpus count rides as a 1-row broadcast (X10 pattern)
      val perType = toks.crossJoin(broadcast(nd))
        .withColumn("decile", expr("doc_id * 10 div n_docs"))
        .groupBy($"tok")
        .agg(min($"decile").as("first_decile"),
          (0 until 10).map(d =>
            sum(when($"decile" === d, 1L).otherwise(0L)).as(s"c$d")): _*)
      val rollup = (0 until 10).flatMap(d => Seq(
        sum(when($"first_decile" === d, 1L).otherwise(0L)).as(s"newt$d"),
        sum(col(s"c$d")).as(s"ntok$d")))
      perType.agg(rollup.head, rollup.tail: _*)
  }

  val t25VocabGrowth = Q(
    "t25_vocab_growth",
    (s, dir) => {
      import s.implicits._
      // unpivot + running totals over the 1-row/20-col roll-up are
      // driver arithmetic (the q13/q54 pattern) — the old unpartitioned
      // cumulative window was a needless single-partition barrier
      // logging the WindowExec WARN on every run. A decile row is
      // emitted only when it saw ≥1 token occurrence (the old tok_t
      // frame's and the oracle's row condition); a type's first
      // sighting is a decile it occurs in, so skipped deciles never
      // carry new_types and the running totals are unaffected.
      val r = t25Base(s, dir).collect()(0)
      var (ct, ctk) = (0L, 0L)
      val out = (0 until 10).flatMap { d =>
        val (newt, ntok) =
          if (r.isNullAt(2 * d)) (0L, 0L)
          else (r.getLong(2 * d), r.getLong(2 * d + 1))
        if (ntok > 0) {
          ct += newt; ctk += ntok
          Some(org.apache.spark.sql.Row(d.toLong, newt, ntok, ct, ctk))
        } else None
      }
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      s.createDataFrame(
        new java.util.ArrayList(
          scala.jdk.CollectionConverters.SeqHasAsJava(out.toSeq).asJava),
        StructType(Seq("decile", "new_types", "n_tokens", "cum_types", "cum_tokens")
          .map(StructField(_, LongType, nullable = false))))
    },
    Some(s"""WITH nd AS (SELECT count(*) AS n_docs FROM documents),
      toks AS (
        SELECT doc_id, unnest(${graft.functions.TextFunctions.wsTokensSql}) AS tok
        FROM documents),
      firsts AS (SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok),
      new_t AS (
        SELECT CAST((first_doc * 10) // n_docs AS BIGINT) AS decile,
          CAST(count(*) AS BIGINT) AS new_types
        FROM firsts, nd GROUP BY 1),
      tok_t AS (
        SELECT CAST((doc_id * 10) // n_docs AS BIGINT) AS decile,
          CAST(count(*) AS BIGINT) AS n_tokens
        FROM toks, nd GROUP BY 1)
      SELECT t.decile,
        CAST(coalesce(f.new_types, 0) AS BIGINT) AS new_types,
        t.n_tokens,
        CAST(sum(coalesce(f.new_types, 0)) OVER (
          ORDER BY t.decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types,
        CAST(sum(t.n_tokens) OVER (
          ORDER BY t.decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM tok_t t LEFT JOIN new_t f USING (decile)"""),
    headline = true)

  private val UnigramRounds = 2

  /** t26: Unigram-LM (SentencePiece, Kudo 2018) tokenizer training —
    * the other production tokenizer family beside BPE (t16/t24):
    * seed an over-complete substring vocabulary (one top-N collect),
    * fit piece probabilities with [[graft.operators.UnigramTrainer]]'s
    * exact soft EM (lattice marginals, micro-quantized expected counts,
    * 6-dp renormalization on the driver), Viterbi-encode the corpus
    * under the final model. Each EM round and the Viterbi census is
    * one [[graft.operators.ModelFold]] job into per-piece bigint
    * counts, so the build runs 7 jobs. Output: one row per seed piece
    * with its post-EM probability and corpus Viterbi usage count.
    *
    * The DuckDB oracle replays the ENTIRE fit — substring seed census,
    * both lattice DPs as unrolled guarded CTE levels (t16's
    * unrolled-round pattern; forward alphas append, backward betas
    * prepend, one level per word position up to the shared 12-char
    * word cap), per-occurrence micro quantization, both EM
    * renormalizations, the (score, −i)-sorted Viterbi argmax and its
    * unrolled path walk-back. Cross-engine FP determinism is by
    * construction: 6-dp probabilities in, fixed-order IEEE
    * multiply/add chains inside each lattice (no logs, no
    * re-association), integer counts out — see UnigramImpl's contract.
    */
  val t26UnigramLm = Q(
    "t26_unigram_lm",
    (s, dir) => graft.operators.UnigramTrainer
      .train(Tables.documents(s, dir), "text", UnigramRounds),
    Some {
      val P = graft.functions.UnigramImpl.MaxPiece
      val W = graft.operators.UnigramTrainer.MaxWord
      def lookup(pr: String, pieceExpr: String) =
        s"coalesce((SELECT p FROM $pr WHERE piece = $pieceExpr), 0.0)"
      // forward: a(j) = sum_{i=max(0,j-P)}^{j-1} a(i) * p(w[i,j)),
      // chained additions in increasing i (the kernel's loop order)
      def fwLevel(r: Int, j: Int) = {
        val terms = (math.max(0, j - P) until j).map { i =>
          s"${lookup(s"p$r", s"substr(w, ${i + 1}, ${j - i})")} * a[${i + 1}]"
        }.mkString(" + ")
        s"""
      fw${r}_$j AS MATERIALIZED (
        SELECT w, freq,
          CASE WHEN length(w) >= $j THEN list_append(a, $terms) ELSE a END AS a
        FROM fw${r}_${j - 1})"""
      }
      // backward, built back-to-front by PREPEND: after step s the list
      // is [b(n-s), ..., b(n)]; the new head needs q[t] = b(n-s+t),
      // t increasing — the kernel's loop order again
      def bwLevel(r: Int, st: Int) = {
        val terms = (1 to math.min(P, st)).map { t =>
          s"${lookup(s"p$r", s"substr(w, length(w) - $st + 1, $t)")} * q[$t]"
        }.mkString(" + ")
        s"""
      bw${r}_$st AS MATERIALIZED (
        SELECT w, freq,
          CASE WHEN length(w) >= $st THEN list_prepend($terms, q) ELSE q END AS q
        FROM bw${r}_${st - 1})"""
      }
      def round(r: Int) = {
        val fw = (1 to W).map(j => fwLevel(r, j)).mkString(",")
        val bw = (1 to W).map(s => bwLevel(r, s)).mkString(",")
        s"""
      fw${r}_0 AS (SELECT w, freq, [CAST(1.0 AS DOUBLE)] AS a FROM words),$fw,
      bw${r}_0 AS (SELECT w, freq, [CAST(1.0 AS DOUBLE)] AS q FROM words),$bw,
      ex$r AS MATERIALIZED (
        SELECT piece, CAST(sum(freq * micro) AS BIGINT) AS cnt
        FROM (
          SELECT f.freq, substr(f.w, i + 1, ln) AS piece,
            CAST(floor(f.a[i + 1]
              * ${lookup(s"p$r", "substr(f.w, i + 1, ln)")}
              * b.q[i + ln + 1] / f.a[length(f.w) + 1] * 1000000.0 + 0.5)
              AS BIGINT) AS micro
          FROM fw${r}_$W f JOIN bw${r}_$W b USING (w),
            LATERAL (SELECT unnest(range(0, length(f.w))) AS i) ii,
            LATERAL (SELECT unnest(range(1, 1 + least($P, length(f.w) - i))) AS ln) ll
          WHERE f.a[length(f.w) + 1] > 0)
        GROUP BY piece),
      p${r + 1} AS MATERIALIZED (
        SELECT s.piece,
          round(coalesce(e.cnt, 0) / (SELECT CAST(sum(cnt) AS BIGINT) FROM ex$r), 6) AS p
        FROM seed s LEFT JOIN ex$r e USING (piece))"""
      }
      // Viterbi: candidates (score, -i) filtered to positive score;
      // ascending struct sort puts (max score, then min i) LAST —
      // exactly the kernel's strictly-greater increasing-i update
      def vtLevel(j: Int) = {
        val cands = (math.max(0, j - P) until j).map { i =>
          s"struct_pack(sc := v[${i + 1}] * ${lookup(s"p$UnigramRounds", s"substr(w, ${i + 1}, ${j - i})")}, ni := CAST(${-i} AS BIGINT))"
        }.mkString(", ")
        s"""
      vt_$j AS MATERIALIZED (
        SELECT w, freq,
          CASE WHEN length(w) >= $j THEN list_append(v, coalesce(best.sc, 0.0)) ELSE v END AS v,
          CASE WHEN length(w) >= $j THEN list_append(bp, -best.ni) ELSE bp END AS bp
        FROM (
          SELECT w, freq, v, bp,
            CASE WHEN length(cl) > 0 THEN list_sort(cl)[length(cl)] ELSE NULL END AS best
          FROM (
            SELECT w, freq, v, bp, list_filter([$cands], x -> x.sc > 0) AS cl
            FROM vt_${j - 1})))"""
      }
      def wkLevel(s: Int) =
        s"""
      wk_$s AS MATERIALIZED (
        SELECT w, freq, bp,
          CASE WHEN j > 0 THEN bp[CAST(j AS INTEGER) + 1] ELSE j END AS j,
          CASE WHEN j > 0 THEN list_append(pieces,
            substr(w, CAST(bp[CAST(j AS INTEGER) + 1] AS INTEGER) + 1,
                      CAST(j - bp[CAST(j AS INTEGER) + 1] AS INTEGER)))
          ELSE pieces END AS pieces
        FROM wk_${s - 1})"""
      val vt = (1 to W).map(vtLevel).mkString(",")
      val wk = (1 to W).map(wkLevel).mkString(",")
      s"""WITH words AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
          SELECT unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS w
          FROM documents)
        WHERE regexp_matches(w, '^[A-Za-z0-9]+$$') AND length(w) <= $W
        GROUP BY w),
      subs AS MATERIALIZED (
        SELECT substr(w, st, ln) AS piece, CAST(sum(freq) AS BIGINT) AS cnt
        FROM words,
          LATERAL (SELECT unnest(range(1, length(w) + 1)) AS st) ss,
          LATERAL (SELECT unnest(range(1, 1 + least($P, length(w) - st + 1))) AS ln) ll
        GROUP BY 1),
      seed AS MATERIALIZED (
        SELECT piece, cnt FROM subs WHERE length(piece) = 1
        UNION ALL
        SELECT piece, cnt FROM (
          SELECT piece, cnt FROM subs WHERE length(piece) >= 2
          ORDER BY cnt DESC, piece ASC
          LIMIT ${graft.operators.UnigramTrainer.SeedMulti})),
      p0 AS MATERIALIZED (
        SELECT piece, round(cnt / (SELECT CAST(sum(cnt) AS BIGINT) FROM seed), 6) AS p
        FROM seed),${(0 until UnigramRounds).map(round).mkString(",")},
      vt_0 AS (
        SELECT w, freq, [CAST(1.0 AS DOUBLE)] AS v, [CAST(-1 AS BIGINT)] AS bp
        FROM words),$vt,
      wk_0 AS (
        SELECT w, freq, bp, CAST(length(w) AS BIGINT) AS j,
          CAST([] AS VARCHAR[]) AS pieces
        FROM vt_$W WHERE v[length(w) + 1] > 0),$wk,
      vc AS (
        SELECT piece, CAST(sum(freq) AS BIGINT) AS vit_count
        FROM (SELECT freq, unnest(pieces) AS piece FROM wk_$W)
        GROUP BY piece)
      SELECT s.piece AS piece, p$UnigramRounds.p AS em_prob,
        CAST(coalesce(vc.vit_count, 0) AS BIGINT) AS vit_count
      FROM seed s
      JOIN p$UnigramRounds ON p$UnigramRounds.piece = s.piece
      LEFT JOIN vc ON vc.piece = s.piece"""
    },
    headline = true)

  /** t27: n-gram frequency spectrum (Good–Turing count-of-counts over
    * word TRIGRAMS): for each count f in 1..10 — plus an 11 = ">10"
    * tail bucket — the number of trigram TYPES seen exactly f times
    * and the occurrences they carry, with 4-dp type/occurrence
    * shares. t25's Heaps curve prices vocabulary growth; this is the
    * companion statistic — the N_f spectrum over n-gram counts is the
    * direct input to Good–Turing / Katz smoothing (N_1/N estimates
    * the unseen-event mass that t14/t14b's discounting redistributes)
    * and the singleton share is the standard memorization/noise
    * indicator. Trigrams, not unigrams, because that is what LM
    * smoothing actually consumes — and because this corpus's word
    * vocabulary is a few dozen types that all sit in the tail bucket,
    * while its trigram spectrum has real mass at every f.
    *
    * Scale shape: ONE n-gram-stream shuffle (the per-type census,
    * t01/t10's shape, built by the codegen'd `word_shingles` kernel)
    * → a type-space-sized frame → an ≤11-cell spectrum census with
    * map-side partials; the two grand totals ride as a 1-row
    * broadcast (X10 pattern). Everything is integers until the final
    * shares, which are floor(x·1e4 + 0.5)/1e4 of exact-integer
    * quotients — identical IEEE ops on both engines (the CLAUDE.md
    * quantize rule).
    */
  val t27FreqSpectrum = Q(
    "t27_freq_spectrum",
    (s, dir) => {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(graft.operators.TextDedup.shingles($"text", 3)).as("g"))
        // docs with <3 tokens emit their whole text as one degenerate
        // shingle — drop those on both sides (the t10 convention)
        .filter(size(split($"g", " ")) === 3)
      val types = toks.groupBy($"g").agg(count(lit(1)).as("f"))
      val spectrum = types
        .groupBy(least($"f", lit(11L)).as("bucket"))
        .agg(count(lit(1)).as("n_types"), sum($"f").as("n_tokens"))
      val totals = types.agg(
        count(lit(1)).as("tot_types"), sum($"f").as("tot_tokens"))
      spectrum.crossJoin(broadcast(totals))
        .select($"bucket", $"n_types", $"n_tokens",
          (floor($"n_types" * lit(10000.0) / $"tot_types" + lit(0.5)) / lit(10000.0))
            .as("types_share"),
          (floor($"n_tokens" * lit(10000.0) / $"tot_tokens" + lit(0.5)) / lit(10000.0))
            .as("tokens_share"))
    },
    Some(s"""WITH tg0 AS (
        SELECT unnest(${DedupQueries.shinglesSql(3)}) AS g FROM documents),
      toks AS (SELECT g FROM tg0 WHERE len(string_split(g, ' ')) = 3),
      types AS (SELECT g, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY g),
      spectrum AS (
        SELECT least(f, 11) AS bucket,
          CAST(count(*) AS BIGINT) AS n_types,
          CAST(sum(f) AS BIGINT) AS n_tokens
        FROM types GROUP BY 1),
      totals AS (
        SELECT CAST(count(*) AS BIGINT) AS tot_types,
          CAST(sum(f) AS BIGINT) AS tot_tokens
        FROM types)
      SELECT bucket, n_types, n_tokens,
        floor(n_types * 10000.0 / tot_types + 0.5) / 10000.0 AS types_share,
        floor(n_tokens * 10000.0 / tot_tokens + 0.5) / 10000.0 AS tokens_share
      FROM spectrum, totals"""),
    headline = true)

  val all: Seq[Q] =
    Seq(t01WordTopK, t02TokenCount, t03QualityScore, t04LangId, t05Fingerprint,
      t06ParseShapes, t07Chunking, t08Tfidf, t09Redact, t10BigramLm,
      t11SeqPacking, t12MixtureSample, t13Repetition, t14Perplexity,
      t14bKnPerplexity,
      t15ShardShuffle, t16BpeMerges, t17QualityClassifier, t18WeightedSample,
      t19Normalize, t20Dsir, t21TextRank, t22LeakageSplit, t23SpanScrub,
      t24BpeTokenize, t25VocabGrowth, t26UnigramLm, t27FreqSpectrum)
}
