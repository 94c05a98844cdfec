package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, n-gram language ID, and document
  * fingerprinting. All are pure Catalyst column expressions
  * (codegen'd, no UDFs) so they pipeline inside a single stage over
  * the scan — the shape that survives a 100 TB corpus.
  */
object TextAnalysis {

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** A BPE-ish subword proxy: number of matches of a letter-run /
    * digit-run / single-symbol regex. Useful as a fast token estimate
    * when no tokenizer is available.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Quality-scoring feature columns:
    * chars, tokens, mean token length, punctuation ratio, digit
    * ratio, uppercase ratio, stopword ratio (English function words).
    */
  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for", "with", "as", "at", "by", "it", "that", "this")

  def qualityFeatures(df: DataFrame, textCol: String, prefix: String = "q_"): DataFrame = {
    val t = col(textCol)
    val chars = length(t)
    val toks = tokenCount(t)
    val punct = length(t) - length(regexp_replace(t, "[\\.,;:!\\?'\"\\(\\)]", ""))
    val digits = length(t) - length(regexp_replace(t, "[0-9]", ""))
    val uppers = length(t) - length(regexp_replace(t, "[A-Z]", ""))
    val stopHits = defaultStopwords
      .map(w => (length(t) - length(regexp_replace(t, s"(?i)\\b$w\\b", ""))) / lit(w.length))
      .reduce(_ + _)
    df.withColumn(s"${prefix}chars", chars)
      .withColumn(s"${prefix}tokens", toks)
      .withColumn(s"${prefix}mean_tok_len", when(toks > 0, (chars - (toks - 1)).cast("double") / toks).otherwise(lit(0.0)))
      .withColumn(s"${prefix}punct_ratio", when(chars > 0, punct.cast("double") / chars).otherwise(lit(0.0)))
      .withColumn(s"${prefix}digit_ratio", when(chars > 0, digits.cast("double") / chars).otherwise(lit(0.0)))
      .withColumn(s"${prefix}upper_ratio", when(chars > 0, uppers.cast("double") / chars).otherwise(lit(0.0)))
      .withColumn(s"${prefix}stop_ratio", when(toks > 0, stopHits.cast("double") / toks).otherwise(lit(0.0)))
  }

  /** Language-ID marker words per language. Deliberately tiny and
    * deterministic: see [[langId]] for the scoring. The table is the
    * one source of the markers for the kernel and the oracle SQL.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " is "),
    "es" -> Seq(" el ", " la ", " los ", " es "),
    "de" -> Seq(" der ", " die ", " und ", " ist "),
    "fr" -> Seq(" le ", " la ", " et ", " est "),
    "zh" -> Seq("的", "是", "了", "在")
  )

  /** Count non-overlapping occurrences of a literal in `t` via the
    * replace-length trick (portable to any SQL engine).
    */
  def countOccurrences(t: Column, literal: String): Column =
    (length(t) - length(regexp_replace(t, java.util.regex.Pattern.quote(literal), ""))) / lit(literal.length)

  /** Heuristic language ID over [[langMarkers]]. A language's score is
    * the number of leftmost non-overlapping occurrences of its markers
    * in `" " + lower(text) + " "` (the padding lets a marker match at
    * either edge); the first language in table order with the highest
    * score wins, so text with no marker is `"en"`. Null text is null.
    *
    * One codegen'd byte scan per row over Spark's own `lower` output
    * ([[graft.plans.LangIdExpr]]). It mirrors `OracleSql.langIdSql`,
    * the replace-length scores and strict-`>` fold the DuckDB oracle
    * runs, row for row.
    */
  def langId(text: Column): Column =
    graft.internal.exprColumn(graft.plans.LangIdExpr(graft.internal.columnExpr(lower(text))))

  // ---- corpus report ----------------------------------------------

  /** Per-group corpus summary — the dataset-card numbers every
    * training corpus ships with: document count, token total/mean,
    * and exact character-length quantiles (p50/p90/p99).
    *
    * One hash-aggregate shuffle on the group keys; percentiles are
    * exact (the repo-wide rule — approx quantiles differ by engine
    * and are not oracle-checkable). Groups here are coarse corpus
    * slices (source, language), so per-group sort state is bounded
    * by the slice, not the corpus.
    */
  def corpusStats(df: DataFrame, byvars: Seq[String], textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokenCount(t)
    df.groupBy(byvars.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(toks.cast("long")).as("n_tokens"),
        avg(toks).as("avg_tokens"),
        percentile(length(t), lit(0.5)).as("p50_chars"),
        percentile(length(t), lit(0.9)).as("p90_chars"),
        percentile(length(t), lit(0.99)).as("p99_chars"))
  }

  // ---- unicode normalization --------------------------------------

  /** Unicode NFC normalization (combining sequences composed to
    * precomposed forms — the standard canonicalization before
    * hashing/dedup on multilingual corpora, where "é" and "e"+U+0301
    * must collide). No Catalyst builtin exists, so this is a scalar
    * JVM UDF over `java.text.Normalizer` — a per-row pure function
    * with no state, the narrow case where a UDF is the honest tool;
    * mirrored exactly by DuckDB's `nfc_normalize` in the oracle.
    */
  private lazy val nfcUdf =
    udf((s: String) => if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))

  def nfcNormalize(text: Column): Column = nfcUdf(text)

  /** Accent stripping: canonical decomposition (NFD) then removal of
    * all combining marks — "école" -> "ecole". The classic fold for
    * search/dedup keys; mirrored by DuckDB's `strip_accents`.
    */
  private lazy val stripAccentsUdf =
    udf((s: String) => if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
        .replaceAll("\\p{M}+", ""))

  def stripAccents(text: Column): Column = stripAccentsUdf(text)

  /** Normalized-text digest fingerprint: lowercase, strip
    * non-alphanumerics to single spaces, trim, md5. Identical texts
    * modulo casing/punctuation/whitespace collide — the standard
    * cheap exact-dup key.
    */
  def fingerprintMd5(text: Column): Column =
    md5(regexp_replace(trim(regexp_replace(lower(text), "[^a-z0-9\\p{L}]+", " ")), "\\s+", " "))

  /** Polynomial rolling hash of the normalized text (Rabin-Karp
    * style, base 31, modulo the prime 1e9+7) via an aggregate over
    * the character codes. The modulus keeps every intermediate below
    * 2^35 — wraparound 64-bit arithmetic would THROW under Spark 4's
    * ANSI overflow checking, and mod-prime is reproducible in any
    * engine with exact integer math (DuckDB oracle included).
    */
  val rollingHashMod = 1000000007L

  def rollingHash(text: Column): Column = {
    val norm = regexp_replace(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")), "\\s+", " ")
    aggregate(
      transform(split(norm, ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, c) => (acc * lit(31L) + c) % lit(rollingHashMod)
    )
  }

  /** Winnowed document fingerprints (Schleimer et al. 2003 — the
    * MOSS local algorithm): normalize like [[rollingHash]], hash
    * every k-gram with the same base-31 mod-1e9+7 polynomial, and
    * keep the RIGHTMOST minimum of every window of `w` consecutive
    * gram hashes — one row `(idCol, pos, gram_hash)` per selected
    * gram.
    *
    * Why this beats whole-doc digests for near-dup work: the
    * selection is LOCAL (a window's choice depends only on its own w
    * grams), so two documents sharing any normalized substring of
    * length >= `w + k - 1` chars share a fingerprint hash —
    * guaranteed, position-independent — while storing ~2/(w+1) of
    * the gram stream. Joining on `gram_hash` yields near-dup
    * candidates the same way the MinHash band join does, with an
    * exact containment guarantee instead of a probabilistic one.
    *
    * Scale shape: one pass per row through the codegen'd
    * [[graft.plans.WinnowExpr]] kernel (O(n) rolling hash +
    * monotonic deque — no per-gram rows exist before selection),
    * then an explode of the sparse selected set. Zero shuffles.
    */
  def winnowFingerprintRows(
      df: DataFrame, idCol: String, textCol: String, k: Int = 5, w: Int = 4): DataFrame = {
    val norm = regexp_replace(
      trim(regexp_replace(lower(col(textCol)), "[^a-z0-9]+", " ")), "\\s+", " ")
    df.select(col(idCol),
        explode(graft.internal.exprColumn(graft.plans.WinnowExpr(
          graft.internal.columnExpr(norm), k, w))).as("__fp__"))
      .select(col(idCol), col("__fp__.pos").as("pos"), col("__fp__.hash").as("gram_hash"))
  }

  // ---- repetition signals (Gopher-style, Rae et al. 2021) ---------

  /** Fraction of non-blank lines that are repeats of an earlier line:
    * `1 - distinct/total`. Pure per-row array expression. */
  def duplicateLineFraction(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    val n = size(lines)
    when(n > 0, (n - size(array_distinct(lines))).cast("double") / n).otherwise(lit(0.0))
  }

  /** Fraction of whitespace tokens that are repeats of an earlier
    * token — high values flag boilerplate / degenerate generations. */
  def duplicateWordFraction(text: Column): Column = {
    val words = split(trim(text), "\\s+")
    val n = when(length(trim(text)) === 0, lit(0)).otherwise(size(words))
    when(n > 0, (n - size(array_distinct(words))).cast("double") / n).otherwise(lit(0.0))
  }

  /** Per-document repetition signals:
    * (idCol, dup_line_frac, dup_word_frac, top_ngram_char_frac).
    *
    * `top_ngram_char_frac` is the fraction of the normalized text's
    * characters covered by the single most frequent word `ngramWords`-
    * gram (count * gram length / text length) — the Gopher
    * "top n-gram character fraction" filter. The frequent-gram search
    * is a real aggregation, not a per-row loop: explode grams, count
    * by (doc, gram), take the top gram per doc with one window — all
    * shuffles keyed on (doc, gram) / doc, so a hot document never
    * concentrates more than its own grams on one task at 100 TB.
    * Ties break to the lexicographically smallest gram.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String, ngramWords: Int = 2): DataFrame = {
    val norm = regexp_replace(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), "\\s+", " ")
    val base = df.select(
      col(idCol),
      duplicateLineFraction(col(textCol)).as("dup_line_frac"),
      duplicateWordFraction(col(textCol)).as("dup_word_frac"),
      length(norm).as("__tc__"))
    val grams = df.select(
      col(idCol),
      explode(Dedup.shinglesFromWordsNative(Dedup.splitWords(col(textCol)), ngramWords)).as("__g__"))
    val counts = grams.groupBy(col(idCol), col("__g__")).agg(count(lit(1)).as("__c__"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("__c__").desc, col("__g__").asc)
    val top = counts
      .withColumn("__rn__", row_number().over(w))
      .where(col("__rn__") === 1)
      .select(col(idCol), (col("__c__") * length(col("__g__"))).as("__cov__"))
    base
      .join(top, Seq(idCol), "left")
      .select(
        col(idCol),
        col("dup_line_frac"),
        col("dup_word_frac"),
        coalesce(col("__cov__").cast("double") / col("__tc__"), lit(0.0)).as("top_ngram_char_frac"))
  }

  // ---- PII redaction ----------------------------------------------

  /** PII patterns, ordered by specificity (emails before phone-ish
    * digit runs so an address is consumed whole). Deliberately
    * restricted to syntax BOTH Java regex and RE2 support (no
    * lookaround, no backreferences) so the DuckDB oracle runs the
    * exact same patterns — and so the patterns stay linear-time at
    * 100 TB.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b", "<PHONE>"))

  /** Mask emails / IPv4s / phone numbers with typed placeholder
    * tokens. A chain of codegen'd regexp_replace — single stage over
    * the scan, no UDF.
    */
  def piiRedact(text: Column): Column =
    piiPatterns.foldLeft(text) { case (acc, (pat, repl)) => regexp_replace(acc, pat, repl) }

  /** Per-kind PII match counts (email, ip, phone), computed on the
    * same progressively-redacted text as [[piiRedact]] so overlapping
    * patterns are attributed once, to the most specific kind.
    */
  def piiCounts(df: DataFrame, textCol: String, prefix: String = "pii_"): DataFrame = {
    val names = Seq("email", "ip", "phone")
    val (out, _) = piiPatterns.zip(names).foldLeft((df, col(textCol))) {
      case ((d, t), ((pat, repl), name)) =>
        (d.withColumn(prefix + name, size(regexp_extract_all(t, lit(pat), lit(0)))),
          regexp_replace(t, pat, repl))
    }
    out
  }

  // ---- C4-style corpus cleaning -----------------------------------

  /** Lines retained by the C4 cleaning heuristics (Raffel et al.
    * 2020, §2.2): trim each line, keep those that (a) end in a
    * terminal punctuation mark (`.` `!` `?` `"`), (b) have at least
    * `minWords` whitespace-separated words, and (c) don't mention
    * "javascript" (case-insensitive). A per-row array expression —
    * no shuffle, pipelines in the scan stage.
    */
  def c4KeptLines(text: Column, minWords: Int = 5): Column =
    filter(transform(split(text, "\n"), l => trim(l)), l =>
      (endswith(l, lit(".")) || endswith(l, lit("!")) ||
        endswith(l, lit("?")) || endswith(l, lit("\""))) &&
        size(split(l, "\\s+")) >= minWords &&
        !contains(lower(l), lit("javascript")))

  /** `\s`-class whitespace per Java regex (the class Spark's split
    * uses), as a branch test — lets the word count below run as a
    * plain char scan with no regex and no token-array allocation.
    */
  private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** `split(l, "\\s+", -1).length` without the regex or the array:
    * fields = whitespace-run count + 1 (limit -1 keeps leading and
    * trailing empty fields, so every separator run adds exactly one).
    */
  private def wordCountOf(l: String): Int = {
    var runs = 0; var inRun = false; var i = 0
    while (i < l.length) {
      if (isRegexSpace(l.charAt(i))) { if (!inRun) { runs += 1; inRun = true } }
      else inRun = false
      i += 1
    }
    runs + 1
  }

  /** Spark's `lower()` semantics (UTF8String.toLowerCase): ASCII fast
    * path for all-ASCII strings, JVM-default-locale toLowerCase
    * otherwise — replicated so the UDF cannot diverge from the
    * expression spec even under a non-English default locale (e.g.
    * Turkish dotless-i), where Locale.ROOT WOULD diverge.
    */
  private def sparkLower(s: String): String = {
    var i = 0; var ascii = true
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (!ascii) s.toLowerCase
    else {
      val a = s.toCharArray
      var j = 0
      while (j < a.length) {
        val c = a(j); if (c >= 'A' && c <= 'Z') a(j) = (c + 32).toChar; j += 1
      }
      new String(a)
    }
  }

  /** One-pass JVM form of [[c4KeptLines]], used by [[c4Clean]]'s hot
    * path: Spark never code-generates lambda HOFs, so the expression
    * form pays interpreted per-line transform/filter lambdas — the
    * same pathology measured and fixed for MinHash/SimHash/LSH. The
    * expression form stays as the spec the DuckDB oracle mirrors,
    * pinned bit-identical to this UDF in PipelineSpec. Semantics
    * mirrored exactly: split keeps trailing empties (Spark split uses
    * limit -1; "\n" is a single-char split so String.split takes its
    * non-regex fast path), trim strips ASCII spaces ONLY (Spark
    * trim), word count via [[wordCountOf]] (no per-line Pattern
    * compile), lower via [[sparkLower]] (Spark's ASCII-fast-path +
    * default-locale fallback, not Locale.ROOT).
    */
  def c4KeptLinesUdf(minWords: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) null
      else text.split("\n", -1).iterator.map { raw =>
        var s = 0; var e = raw.length
        while (s < e && raw.charAt(s) == ' ') s += 1
        while (e > s && raw.charAt(e - 1) == ' ') e -= 1
        raw.substring(s, e)
      }.filter { l =>
        (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") || l.endsWith("\"")) &&
          wordCountOf(l) >= minWords &&
          !sparkLower(l).contains("javascript")
      }.toSeq
    }.withName("c4KeptLines")

  /** C4-style corpus cleaning: document-level drops (any `{` — a
    * code/markup page; any "lorem ipsum" — placeholder boilerplate),
    * then the [[c4KeptLines]] line filters, then drop documents left
    * with fewer than `minKeptLines` lines. Returns
    * (idCol, n_lines_kept, text_clean) for surviving documents, with
    * `text_clean` the kept lines re-joined by newline.
    *
    * Scale shape: the doc-level `contains` filters sit directly on
    * the text column so they evaluate before any line work; the rest
    * is per-row array expressions — zero shuffles end to end. The
    * kept-lines array is referenced by both the size filter and the
    * re-join; the UDF is marked non-deterministic (it isn't, but the
    * flag is Spark's sanctioned single-evaluation barrier) so filter
    * pushdown cannot re-inline it into the predicate — one line pass
    * per document instead of two, with no persist and no shuffle.
    */
  def c4Clean(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWordsPerLine: Int = 5,
      minKeptLines: Int = 3
  ): DataFrame =
    df.where(!col(textCol).contains("{") && !lower(col(textCol)).contains("lorem ipsum"))
      .select(col(idCol),
        c4KeptLinesUdf(minWordsPerLine).asNondeterministic()(col(textCol)).as("__kept__"))
      .where(size(col("__kept__")) >= minKeptLines)
      .select(
        col(idCol),
        size(col("__kept__")).as("n_lines_kept"),
        array_join(col("__kept__"), "\n").as("text_clean"))

  // ---- bigram-LM quality score (perplexity proxy) -----------------

  /** Per-document cross-entropy under an add-k-smoothed bigram
    * language model trained on the corpus itself — the CCNet-style
    * "perplexity filter" signal: boilerplate and fluent text score
    * low, lexical garbage scores high.
    *
    * score(doc) = -(1/|bigrams|) * sum over doc bigrams of
    *   ln( (C(w1,w2) + k) / (C(w1) + k * V) )
    * with V = corpus vocabulary size and C(w1) the corpus unigram
    * count (the plain-count convention; both sides of the oracle use
    * the same definition). Docs with fewer than 2 words have no
    * bigrams and are absent from the output.
    *
    * Scale shape: the corpus tokenizes TWICE total (once for the
    * bigram path, once for the unigram counts — the two aggregation
    * branches cannot share a scan without persisting the exploded
    * corpus, a bad trade at scale). The bigram side collapses to
    * per-doc (bigram, count) rows in its FIRST shuffle, so the
    * expensive tokenize/shingle stage runs once and every later join
    * touches only the aggregated frame. V enters as a broadcast
    * one-row aggregate, like tfIdf's corpus size. Everything is
    * exact integer counts until the final log, so the score is
    * engine-reproducible.
    */
  def bigramCrossEntropy(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Double = 0.5
  ): DataFrame = {
    val words = df.select(col(idCol).as("__id__"), Dedup.splitWords(col(textCol)).as("__w__"))
    // (doc, bigram) with multiplicity, aggregated immediately: the
    // shingle stage is evaluated exactly once, in this aggregation
    val docBigram = words
      .select(col("__id__"), explode(Dedup.shinglesFromWordsNative(col("__w__"), 2)).as("__bg__"))
      .groupBy(col("__id__"), col("__bg__")).agg(count(lit(1)).as("__c__"))
    // corpus-wide bigram count as a window over the SAME frame — a
    // groupBy + self-join here would re-run the tokenize pipeline
    // for the second reference
    val withBg = docBigram.withColumn("__cbg__",
      sum(col("__c__")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("__bg__"))))
    val unigramCounts = df
      .select(explode(Dedup.splitWords(col(textCol))).as("w1"))
      .where(length(col("w1")) > 0)
      .groupBy(col("w1")).agg(count(lit(1)).as("__cw__"))
    val vocab = unigramCounts.select(countDistinct(col("w1")).as("__v__"))
    withBg
      .withColumn("w1", substring_index(col("__bg__"), " ", 1))
      .join(unigramCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("__id__").as(idCol))
      .agg((-(sum(col("__c__") * log((col("__cbg__") + k) / (col("__cw__") + col("__v__") * k)))
        / sum(col("__c__")))).as("xent"))
  }

  // ---- corpus TF-IDF ----------------------------------------------

  /** Corpus TF-IDF over lowercase whitespace words: one row per
    * (document, word) with raw term frequency, document frequency,
    * and `tf * ln(N / df)`.
    *
    * Scale shape: two hash aggregations — (doc, word) then (word) —
    * plus a shuffle join on `word`; the corpus size `N` enters as a
    * broadcast one-row aggregate, never a driver action. `minDocFreq`
    * prunes the long hapax tail BEFORE the join back, which is where
    * a 100 TB vocabulary would otherwise explode.
    */
  def tfIdf(df: DataFrame, idCol: String, textCol: String, minDocFreq: Int = 1): DataFrame = {
    val words = df
      .select(col(idCol).as("__id__"), explode(Dedup.splitWords(col(textCol))).as("word"))
      .where(length(col("word")) > 0)
    val tf = words.groupBy(col("__id__"), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df")).where(col("df") >= minDocFreq)
    val nDocs = df.select(countDistinct(col(idCol)).as("__n__"))
    tf.join(dfreq, Seq("word"))
      .crossJoin(broadcast(nDocs))
      .select(
        col("__id__").as(idCol),
        col("word"),
        col("tf"),
        col("df"),
        (col("tf") * log(col("__n__").cast("double") / col("df"))).as("tfidf"))
  }

  /** Split each document into overlapping word-window chunks — the
    * context-window/RAG splitting step of a training-data pipeline.
    * Chunk k starts at word `k * (chunkSize - overlap)`; a start is
    * emitted while it still contributes words beyond the previous
    * chunk's overlap (`start + overlap < nWords`, start 0 always), so
    * no chunk is fully contained in its predecessor. Output one row
    * per (doc, chunk): (idCol, chunk_id, chunk, n_tokens).
    *
    * Scale shape: zero shuffles — split, the start-sequence filter,
    * posexplode, and the slice/join are all per-row expressions that
    * pipeline inside the scan stage; output parallelism is input
    * parallelism.
    */
  def chunkDocuments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      overlap: Int = 0
  ): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val step = chunkSize - overlap
    df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("__ws__"))
      .select(col(idCol), col("__ws__"),
        posexplode(filter(
          sequence(lit(0), greatest(size(col("__ws__")) - 1, lit(0)), lit(step)),
          s => (s === 0) || (s + lit(overlap) < size(col("__ws__")))
        )).as(Seq("chunk_id", "__start__")))
      .select(
        col(idCol),
        col("chunk_id"),
        array_join(slice(col("__ws__"), col("__start__") + 1, lit(chunkSize)), " ").as("chunk"),
        least(size(col("__ws__")) - col("__start__"), lit(chunkSize)).cast("int").as("n_tokens"))
  }

  /** The Gopher stopword-presence list (Rae et al. 2021, arXiv:
    * 2112.11446, Table A1 quality rules).
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher document-quality rules (Rae et al. 2021): per-document
    * signals plus the combined keep flag.
    *
    *  - word count in [minWords, maxWords]
    *  - mean word length (non-space chars / words) in [3, 10]
    *  - symbol-to-word ratio ('#' and '...' occurrences / words) <= 0.1
    *  - fraction of lines starting with a bullet <= 0.9
    *  - fraction of lines ending with an ellipsis <= 0.3
    *  - >= 80% of words contain an alphabetic character
    *  - >= 2 of the 8 Gopher stopwords present
    *
    * Pure column expressions over one pass of the text — pipelines in
    * the scan stage, no shuffle, no UDF.
    */
  def gopherQuality(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000
  ): DataFrame = {
    val t = col(textCol)
    val toks = tokenCount(t)
    val ws = split(trim(t), "\\s+")
    val lws = transform(ws, w => lower(w))
    val lines = split(t, "\n")
    val nLines = size(lines)
    val meanLen = when(toks > 0,
      length(regexp_replace(t, "\\s+", "")).cast("double") / toks).otherwise(lit(0.0))
    val symbols = countOccurrences(t, "#") + countOccurrences(t, "...")
    val symbolRatio = when(toks > 0, symbols.cast("double") / toks).otherwise(lit(0.0))
    val bulletFrac = when(nLines > 0,
      size(filter(lines, l => substring(ltrim(l), 1, 1).isin("•", "-", "*")))
        .cast("double") / nLines).otherwise(lit(0.0))
    val ellipsisFrac = when(nLines > 0,
      size(filter(lines, l => rtrim(l).endsWith("...") || rtrim(l).endsWith("…")))
        .cast("double") / nLines).otherwise(lit(0.0))
    val alphaFrac = when(toks > 0,
      size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("double") / toks).otherwise(lit(0.0))
    val nStop = gopherStopwords
      .map(sw => when(array_contains(lws, sw), 1).otherwise(0))
      .reduce(_ + _)
    df.select(
      col(idCol),
      toks.as("n_words"),
      meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"),
      alphaFrac.as("alpha_frac"),
      nStop.as("n_stop"))
      .withColumn("keep",
        (col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= 3 && col("mean_word_len") <= 10 &&
          col("symbol_ratio") <= 0.1 &&
          col("bullet_frac") <= 0.9 &&
          col("ellipsis_frac") <= 0.3 &&
          col("alpha_frac") >= 0.8 &&
          col("n_stop") >= 2).cast("int"))
  }

  /** REAL byte-pair-encoding tokenization under a trained merge
    * table — token counts that match the tokenizer a model will
    * actually use, where [[tokenCount]] / [[regexTokenCount]] are
    * estimates. `merges` is the ordered merge list (position =
    * priority, lower merges first — the artifact BPE training
    * produces); each whitespace word starts as its code points and
    * the lowest-rank adjacent pair merges repeatedly
    * until none applies (greedy BPE, Sennrich et al. 2016; leftmost
    * wins rank ties, the reference-implementation rule). The rank
    * table travels in the UDF closure (broadcast with the task
    * binary, like the LSH plane matrices) — per-row work, no
    * shuffle, no vocab service. Null text -> null.
    */
  def bpeTokensUdf(merges: Seq[(String, String)]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    // reversed before toMap so a duplicated pair keeps its FIRST
    // (lowest) rank — the reference rule; last-wins would silently
    // shift merge priorities on a merge table with an accidental dup
    val rank = merges.zipWithIndex.reverse.map { case ((a, b), r) => (a, b) -> r }.toMap
    udf { (text: String) =>
      if (text == null) null
      else text.split("\\s+").filter(_.nonEmpty).flatMap { w =>
        val toks = scala.collection.mutable.ArrayBuffer[String](codePoints(w): _*)
        var done = toks.length < 2
        while (!done) {
          var best = -1
          var bestRank = Int.MaxValue
          var i = 0
          while (i < toks.length - 1) {
            val r = rank.getOrElse((toks(i), toks(i + 1)), Int.MaxValue)
            if (r < bestRank) { bestRank = r; best = i }
            i += 1
          }
          if (best < 0) done = true
          else {
            toks(best) = toks(best) + toks(best + 1)
            toks.remove(best + 1)
            done = toks.length < 2
          }
        }
        toks
      }
    }
  }

  /** Attach `n_bpe`: the document's token count under the trained
    * merge table — the number sequence packing should budget with.
    */
  def withBpeTokenCount(df: DataFrame, textCol: String,
                        merges: Seq[(String, String)]): DataFrame =
    df.withColumn("n_bpe",
      coalesce(size(bpeTokensUdf(merges)(col(textCol))), lit(0)).cast("long"))

  /** Largest vocabulary (distinct whitespace words) [[bpeTrainMerges]]
    * trains. Training runs on the driver, so the cap bounds the driver
    * heap one call holds: one token array a word (references to one
    * shared string per distinct code point and per merged token,
    * about 90 bytes a word) and the pair-count map — about 24 MB at
    * 2^18 words of 5 to 8 letters and 512 merges (used heap after GC,
    * JDK 17: 64.4 MB before the collect, 88.0 MB as the loop starts,
    * 88.3 MB at its end).
    * It is a constant, not a conf: a distributed loop measured 5x to
    * 200x slower than the driver loop at every size up to the cap (on
    * 4 vCPUs, 500 s against 36 s for 512 merges at 2^18 words), and
    * above the cap the driver heap, not speed, is the limit.
    */
  private[graft] val DriverVocabCap: Int = 1 << 18

  /** TRAIN the BPE merge table in-engine (Sennrich et al. 2016,
    * arXiv:1508.07909) — the fit side of [[bpeTokensUdf]], closing
    * the tokenize loop the way `q_quality_fit` closes the
    * classifier's: corpus → merges → model-true token counts.
    *
    * Training iterates over the WORD-FREQUENCY table, not the corpus:
    * one groupBy collapses the text to (distinct word, count), so
    * training cost depends on |vocab| however large the corpus is.
    * One route: a bounded collect of that table (at most
    * [[DriverVocabCap]] rows, else an `IllegalArgumentException` that
    * names the cap), then the classic sequential loop on the driver
    * with incremental pair counts. That is two Spark jobs, the word
    * count's shuffle stage and the collect; `numMerges == 0` runs
    * none.
    *
    * Each word starts as its code points (an emoji is one token, as
    * in [[bpeTokensUdf]]). The argmax takes the highest pair count,
    * then the smaller pair by unsigned UTF-8 bytes (Spark's string
    * order). Merge application is leftmost-greedy non-overlapping
    * (the [[bpeTokensUdf]] rule). Training stops early when no pair
    * repeats (count >= 2, the reference trainer's min_frequency
    * default). Train offline and persist the merges; serving ships
    * them in the task closure like any model artifact.
    */
  def bpeTrainMerges(df: DataFrame, textCol: String, numMerges: Int): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    if (numMerges == 0) return Seq.empty
    val wordCounts = df.select(explode(split(col(textCol), "\\s+")).as("__w__"))
      .where(col("__w__") =!= "")
      .groupBy(col("__w__")).agg(count(lit(1)).as("__c__"))
    // the collected rows are not kept: the loop holds only the token
    // arrays, whose characters share one String per distinct code point
    val single = scala.collection.mutable.HashMap.empty[Int, String]
    val vocab = graft.internal.collectAtMost(wordCounts, DriverVocabCap)
      .getOrElse(throw new IllegalArgumentException(
        s"BPE training collects the vocabulary to the driver, and this one has more " +
          s"distinct words than TextAnalysis.DriverVocabCap ($DriverVocabCap)"))
      .map(r => (r.getString(0).codePoints().toArray
        .map(cp => single.getOrElseUpdate(cp, codePointString(cp))), r.getLong(1)))
    trainMergesLocal(vocab, numMerges)
  }

  /** `w` split into one string per code point — the initial tokens
    * of BPE training and serving. Splitting UTF-16 units instead
    * would cut a character outside the BMP (an emoji) into two lone
    * surrogates, which Spark's UTF-8 encoding turns into `?`.
    */
  private def codePoints(w: String): Array[String] =
    w.codePoints().toArray.map(codePointString)

  private def codePointString(cp: Int): String = new String(Character.toChars(cp))

  /** Unsigned UTF-8 byte order — Spark's binary string comparison,
    * so the trainer tie-breaks pairs the way an `orderBy` over them
    * would.
    */
  private def utf8Less(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    a.length < b.length
  }

  /** Leftmost-greedy non-overlapping merge of (a, b) in `toks` —
    * the [[bpeTokensUdf]] rule — into `ab` (`a + b`, built once per
    * merge, so every merged word shares it). Returns `toks` itself
    * when nothing merges (cheap no-change detection for the
    * incremental counts).
    */
  private def mergeOnce(toks: Array[String], a: String, b: String, ab: String): Array[String] = {
    var has = false
    var i = 0
    while (i < toks.length - 1 && !has) {
      if (toks(i) == a && toks(i + 1) == b) has = true
      i += 1
    }
    if (!has) return toks
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    i = 0
    while (i < toks.length) {
      if (i < toks.length - 1 && toks(i) == a && toks(i + 1) == b) {
        out += ab; i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toArray
  }

  /** The classic sequential trainer over a collected (word, count)
    * table — the loop of [[bpeTrainMerges]]. Pair counts are
    * maintained INCREMENTALLY: only words containing the merged pair
    * are recounted each round.
    */
  private def trainMergesLocal(
      vocab: Array[(Array[String], Long)],
      numMerges: Int
  ): Seq[(String, String)] = {
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    def addPairs(toks: Array[String], c: Long): Unit = {
      var i = 0
      while (i < toks.length - 1) {
        val k = (toks(i), toks(i + 1))
        val n = counts.getOrElse(k, 0L) + c
        if (n == 0L) counts.remove(k) else counts(k) = n
        i += 1
      }
    }
    val words = vocab.clone()
    words.foreach { case (t, c) => addPairs(t, c) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.size < numMerges && !done) {
      var best: (String, String) = null
      var bestC = 1L // floor: a pair seen once can't compress anything
      counts.foreach { case (p, c) =>
        if (c > bestC || (c == bestC && best != null &&
            (utf8Less(p._1, best._1) ||
              (p._1 == best._1 && utf8Less(p._2, best._2))))) {
          best = p; bestC = c
        }
      }
      if (best == null) done = true
      else {
        merges += best
        val ab = best._1 + best._2
        var w = 0
        while (w < words.length) {
          val (toks, c) = words(w)
          val merged = mergeOnce(toks, best._1, best._2, ab)
          if (!(merged eq toks)) {
            addPairs(toks, -c)
            addPairs(merged, c)
            words(w) = (merged, c)
          }
          w += 1
        }
      }
    }
    merges.toSeq
  }

  /** Linear text-classifier INFERENCE over hashed n-gram features —
    * the fastText-style quality/domain classifier a pipeline trains
    * offline and applies to the whole corpus (the pattern behind the
    * CCNet/"Wikipedia-like" quality filters). Features are the
    * unigram+bigram md5 buckets [[Sampling.dsirLogWeights]] uses
    * (uint32 of the first 8 md5 hex chars mod `weights.length` —
    * engine-portable); the score is
    *
    *   sigmoid(bias + sum over grams g of weights(bucket(g)))
    *
    * counting each occurrence (bag-of-buckets, count-weighted like
    * DSIR). The model rides into the plan as a broadcast literal
    * table of `weights.length` rows; scoring is one map-side-combined
    * (doc, bucket) hash agg + a broadcast join + one per-doc agg — no
    * model server, no driver collect, scan-bound at 100 TB. Empty or
    * null documents score sigmoid(bias). Scores round to
    * `scoreDecimals` so the distributed sum's ulp-level order
    * sensitivity cannot flip a hash compare.
    */
  def scoreLinearModel(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: Seq[Double],
      bias: Double,
      scoreDecimals: Int = 6
  ): DataFrame = {
    val buckets = weights.length
    require(buckets > 0, "weights must be non-empty")
    val s = df.sparkSession
    import scala.jdk.CollectionConverters._
    val wTable = broadcast(s.createDataFrame(
      weights.zipWithIndex.map { case (w, b) =>
        org.apache.spark.sql.Row(b, w)
      }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__b__", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__w__", org.apache.spark.sql.types.DoubleType)))))
    val grams = Features.withGrams(df, idCol, textCol)
      .select(col("__id__"), explode(col("__gs__")).as("__g__"))
    val docBuckets = grams
      .select(col("__id__"), Features.bucketOf(col("__g__"), buckets).as("__b__"))
      .groupBy(col("__id__"), col("__b__"))
      .agg(count(lit(1)).as("__c__"))
    val docScore = docBuckets
      .join(wTable, Seq("__b__"))
      .groupBy(col("__id__"))
      .agg(sum(col("__c__") * col("__w__")).as("__s__"))
    df.select(col(idCol))
      .join(docScore, df(idCol) === docScore("__id__"), "left")
      .select(col(idCol),
        round(lit(1.0) / (lit(1.0) + exp(-(lit(bias) + coalesce(col("__s__"), lit(0.0))))),
          scoreDecimals).as("score"))
  }

  /** Full-batch logistic-regression TRAINING in-engine — the other
    * half of [[scoreLinearModel]]'s inference: fit the quality
    * classifier on the corpus itself instead of importing weights.
    * Plain gradient descent from w=0, each step ONE distributed
    * aggregation (map-side-combined partial sums of the d+1 gradient
    * moments — the [[graft.operators.RegBy]] moment recipe) followed
    * by a d+1-double driver update: exactly the treeAggregate shape
    * every distributed LR trainer uses, with no per-row driver
    * traffic. The feature frame is persisted across steps so `steps`
    * epochs cost `steps` cached scans, not `steps` source scans.
    *
    * Each step's averaged gradient rounds to `gradDecimals` (the
    * kmeans/PageRank recipe), so with a finite-decimal `lr` the
    * weight trajectory is bit-portable across engines and an oracle
    * can replay the fit with unrolled CTEs.
    *
    * Returns bias +: weights (length `featureCols.size + 1`).
    */
  def fitLogistic(
      features: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      steps: Int,
      lr: Double = 1.0,
      gradDecimals: Int = 9
  ): Seq[Double] = {
    require(steps >= 0, s"steps must be >= 0, got $steps")
    require(featureCols.nonEmpty, "featureCols must be non-empty")
    var w = Array.fill(featureCols.length + 1)(0.0)
    val cached = features.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      for (_ <- 1 to steps) {
        val margin = featureCols.zipWithIndex
          .foldLeft(lit(w(0)): Column) { case (m, (c, i)) => m + col(c) * lit(w(i + 1)) }
        val err = lit(1.0) / (lit(1.0) + exp(-margin)) - col(labelCol)
        val aggCols = (err +: featureCols.map(c => err * col(c))).zipWithIndex
          .map { case (g, i) => round(avg(g), gradDecimals).as(s"__g${i}__") }
        val grad = cached.agg(aggCols.head, aggCols.tail: _*).head()
        w = Array.tabulate(w.length)(i => w(i) - lr * grad.getDouble(i))
      }
    } finally cached.unpersist()
    w.toSeq
  }

  /** Fit-then-score composition over a document frame: train a
    * 3-feature logistic quality model (token count, char count,
    * stopword-ratio — each scaled to O(1)) against a caller-supplied
    * boolean `label` column expression, then score every document
    * with the fitted weights. Output: (idCol, score) with the score
    * rounded to `scoreDecimals`.
    *
    * The label is whatever weak supervision the pipeline has —
    * "looks like English", "came from a curated source", a prior
    * classifier's verdict. Features are pure codegen'd expressions;
    * training is [[fitLogistic]]'s steps × one-aggregation loop;
    * scoring pipelines with the scan. Zero-token documents take
    * stopword ratio 0 rather than NaN-poisoning the gradient.
    */
  def logisticQualityScores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      label: Column,
      steps: Int = 5,
      lr: Double = 1.0,
      scoreDecimals: Int = 6
  ): DataFrame = {
    val ws = filter(split(col(textCol), " "), w => w =!= "")
    val nW = size(ws).cast("double")
    val feats = df.select(
      col(idCol),
      (nW / lit(100.0)).as("__xw__"),
      (length(col(textCol)).cast("double") / lit(300.0)).as("__xc__"),
      when(nW === 0, lit(0.0))
        .otherwise(size(filter(ws, w => w.isin(defaultStopwords.take(2): _*)))
          .cast("double") / nW).as("__xs__"),
      when(label, lit(1.0)).otherwise(lit(0.0)).as("__y__"))
    val w = fitLogistic(feats, Seq("__xw__", "__xc__", "__xs__"), "__y__", steps, lr)
    val margin = lit(w(0)) + col("__xw__") * lit(w(1)) +
      col("__xc__") * lit(w(2)) + col("__xs__") * lit(w(3))
    feats.select(
      col(idCol),
      round(lit(1.0) / (lit(1.0) + exp(-margin)), scoreDecimals).as("score"))
  }
}
