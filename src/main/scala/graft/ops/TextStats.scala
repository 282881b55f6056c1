package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline extension
  * (north star in BASELINE.json): token counting, quality scoring,
  * language-ID heuristic, document fingerprinting.
  *
  * Everything is built from codegen'd `functions._` column expressions —
  * no UDFs — so the whole stage stays inside WholeStageCodegen and scales
  * linearly with the corpus (pure map-side work, zero shuffles until an
  * aggregation asks for one).
  */
object TextStats {

  /** THE tokenize rule: trim, then split on whitespace runs. Every text
    * feature — dedup token sets and shingles, BM25 terms, LM bigrams,
    * BPE words, span census — tokenizes here; a case-folding caller
    * passes `lower(...)` in (identical tokens: lower never makes or
    * removes whitespace). The single-space `split(lower(text), " ")` of
    * the graph queries is a different rule, which their oracles replay
    * as written; TextStatsSpec fails on any other `"\\s+"` split.
    */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Overlapping word n-grams as strings. Built by zipping n SHIFTED
    * copies of the token array — NOT `transform(sequence(...), i =>
    * slice(toks, ...))`: a lambda body referencing `toks` gets the
    * tokenize expression inlined by CollapseProject and re-evaluated
    * PER ELEMENT (O(tokens²) per doc — measured 30× on 250-token docs).
    * Here `toks` appears only in argument positions (n slices + size),
    * evaluated once per row each; the lambda touches only its own zip
    * entry. A doc shorter than n yields one truncated gram (arrays_zip
    * null-pads the short shifts and concat_ws skips nulls — same values
    * as the old slice form, which its oracles replay).
    * THE n-gram rule, shared by the repetition signals (q58/q73), the
    * shingles behind decontamination (q61/q64), and the BPE pair counts
    * (q75).
    */
  def ngrams(toks: Column, n: Int): Column = {
    val len = greatest(size(toks) - (n - 1), lit(1))
    val shifts = (0 until n).map(k => slice(toks, lit(k + 1), len).as(s"g$k"))
    transform(
      arrays_zip(shifts: _*),
      s => concat_ws(" ", (0 until n).map(k => s.getField(s"g$k")): _*)
    )
  }

  /** Engine-portable pseudo-random key in [0, 1000003): multiplicative
    * hash of an integer id, exact integer arithmetic — replayable in
    * any 64-bit engine, unlike rand(seed) which is engine-private.
    * Shared by the stratified sampler (q52) and the mixture expander
    * (q71); the constant pair must stay in lockstep with the DuckDB
    * oracles.
    */
  def portableHash(idCol: Column): Column =
    pmod(idCol * lit(2654435761L), lit(1000003L))

  /** BPE-ish regex tokenization: runs of letters, runs of digits, single
    * other symbols — the classic pre-tokenizer shape. Built with
    * call_function (never SQL-string interpolation of Column.toString,
    * which breaks on qualified/computed columns).
    */
  def bpeishTokens(c: Column): Column =
    call_function("regexp_extract_all", c, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "is", "to", "in")

  /** Per-document quality features + a deterministic composite score.
    * Mirrors the usual length/stopword/uniqueness heuristics. Expression
    * structure is kept identical to the SQL oracle so doubles match
    * bit-for-bit (same operation order).
    */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    df.withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
      .withColumn(
        "stop_count",
        size(filter(col("toks"), t => t.isin(stopwords: _*))).cast("long")
      )
      .withColumn(
        "sum_token_len",
        aggregate(transform(col("toks"), t => length(t).cast("long")), lit(0L), (a, b) => a + b)
      )
      .withColumn("uniq_ratio", col("n_uniq").cast("double") / col("n_tokens").cast("double"))
      .withColumn("stop_ratio", col("stop_count").cast("double") / col("n_tokens").cast("double"))
      .withColumn(
        "mean_token_len",
        col("sum_token_len").cast("double") / col("n_tokens").cast("double")
      )
      .withColumn(
        "quality_score",
        lit(0.4) * col("uniq_ratio") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
          lit(0.3) * least(col("n_tokens").cast("double") / lit(200.0), lit(1.0))
      )
      .drop("toks")
  }

  /** Marker-word language-ID heuristic (n-gram-lite): count per-language
    * marker tokens, argmax with a fixed precedence. Deterministic and
    * SQL-expressible; a real model would slot in behind the same column
    * contract.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist")
  )

  def withLangId(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val cnt = langMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isin(markers: _*))).cast("long")
    }
    df.withColumn("cnt_en", cnt("en"))
      .withColumn("cnt_es", cnt("es"))
      .withColumn("cnt_de", cnt("de"))
      .withColumn(
        "lang_pred",
        when(col("cnt_en") >= col("cnt_es") && col("cnt_en") >= col("cnt_de") && col("cnt_en") > 0, "en")
          .when(col("cnt_es") >= col("cnt_de") && col("cnt_es") > 0, "es")
          .when(col("cnt_de") > 0, "de")
          .otherwise("unknown")
      )
  }

  /** Whitespace-normalized md5 document fingerprint — stable across
    * engines (md5 is md5 everywhere), used as the exact-dedup key.
    */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(trim(c), "\\s+", " "))

  /** Engine-portable 60-bit integer content digest: the first 15 hex
    * chars of [[fingerprint]] parsed as one BIGINT (< 2^60, so every
    * downstream sum/xor fold stays in exact 64-bit range). Spark spells
    * the parse `conv(hex, 16, 10)`; DuckDB casts a '0x'-prefixed string
    * — probed to yield the identical value. The integer form is what
    * makes corpus/shard digests pure ASSOCIATIVE aggregations (sum mod
    * prime, bit_xor) instead of ordered string folds.
    */
  def contentDigest60(c: Column): Column =
    conv(substring(fingerprint(c), 1, 15), 16, 10).cast("long")

  /** Token-SET (bag-of-words) md5 fingerprint: the content-defined key
    * that survives token reordering. The generated corpus has no exact
    * text duplicates but ~20% of docs share an identical token set —
    * this is the key incremental dedup (q72) and the cross-source
    * overlap census (q82) really run on. Oracle mirror:
    * `md5(array_to_string(list_sort(list_distinct(string_split_regex(
    * trim(text), '\s+'))), ' '))`.
    */
  def tokenSetFingerprint(c: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(c)))))

  /** PII redaction: emails then phone-shaped digit runs replaced with
    * typed placeholder tokens. Patterns stay inside the regex subset
    * both Java and RE2 engines share (no backrefs, no lookaround), so
    * the DuckDB oracle replays them verbatim. Map-side, codegen'd.
    */
  def redactPii(c: Column): Column = {
    // (?i): emails are case-insensitive on the wire; both Java and RE2
    // support the inline flag, so the oracle replays it verbatim
    val email = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phone = "\\+?[0-9][0-9 -]{7,}[0-9]"
    regexp_replace(regexp_replace(c, email, "<EMAIL>"), phone, "<PHONE>")
  }

  /** Whitespace normalization: collapse runs, trim ends. */
  def normalizeWs(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** Deterministic stratified sample: the first `perGroup` rows of each
    * group in a pseudo-random-but-reproducible order (multiplicative
    * hash of the id, exact integer arithmetic — replayable in any
    * 64-bit engine, unlike rand(seed) which is engine-private).
    *
    * Scale shape: the rank filter plans a map-side Partial
    * WindowGroupLimit — each partition forwards at most `perGroup` rows
    * per group, so the shuffle carries ~groups·perGroup rows, not the
    * corpus.
    */
  def stratifiedSample(df: DataFrame, groupCol: String, idCol: String, perGroup: Int): DataFrame = {
    val skey = portableHash(col(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(skey, col(idCol))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= perGroup)
  }

  /** Repetition signals in the style of the published LLM corpus-quality
    * rules (Gopher/MassiveText): the fraction of duplicated word
    * n-grams and the share of the most frequent token. High values mark
    * boilerplate/spam documents that length or stopword heuristics
    * miss. Pure array expressions — map-side, codegen'd, oracle-
    * replayable.
    */
  def withRepetition(df: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    val toks = tokens(col(textCol))
    val grams = ngrams(toks, n)
    df.withColumn("__toks", toks)
      .withColumn("__grams", grams)
      .withColumn(
        "dup_ngram_ratio",
        lit(1.0) - size(array_distinct(col("__grams"))).cast("double") /
          size(col("__grams")).cast("double")
      )
      .withColumn(
        // share of the most frequent token: sort, then one run-length
        // pass tracking the longest run — O(len·log len) per doc. (The
        // obvious distinct×filter formulation is O(distinct·len): ~10⁸
        // comparisons on a 10k-token high-entropy web page.)
        "top_token_ratio", {
          val sorted = array_sort(col("__toks"))
          val best = aggregate(
            sorted,
            struct(
              lit(null).cast("string").as("prev"),
              lit(0).as("run"),
              lit(0).as("best")
            ),
            (acc, t) => {
              val run = when(t === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1))
              struct(
                t.as("prev"),
                run.as("run"),
                greatest(acc.getField("best"), run).as("best")
              )
            },
            acc => acc.getField("best")
          )
          best.cast("double") / size(col("__toks")).cast("double")
        }
      )
      .drop("__toks", "__grams")
  }

  /** CHAR-WEIGHTED mass of the most frequent word n-gram: max over
    * distinct grams of count · charlen, where charlen = len(gram) −
    * (n−1) separators (the gram's character content without spaces).
    * This is the signal the published Gopher/MassiveText repetition
    * rules threshold for n = 2..4 — distinct from [[withRepetition]]'s
    * count-ratio (a 20-char gram repeated twice weighs 4× a 5-char
    * one here). One sort + run-length fold per doc (O(len·log len)),
    * never the O(distinct·len) filter-per-distinct form. Clamped at 0
    * so a single truncated shorter-than-n gram (negative charlen)
    * contributes nothing, matching the oracle's greatest(0, …).
    */
  def topNgramCharMass(grams: Column, n: Int): Column = {
    val sorted = array_sort(grams)
    aggregate(
      sorted,
      struct(
        lit(null).cast("string").as("prev"),
        lit(0L).as("run"),
        lit(0L).as("best")
      ),
      (acc, g) => {
        val run = when(g === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1L))
        val mass = run * (length(g).cast("long") - lit((n - 1).toLong))
        struct(
          g.as("prev"),
          run.as("run"),
          greatest(acc.getField("best"), mass).as("best")
        )
      },
      acc => acc.getField("best")
    )
  }

  /** CHAR-WEIGHTED duplicate n-gram mass: Σ over distinct grams of
    * (count−1) · charlen — the character content of every occurrence
    * beyond a gram's first, the "fraction of characters inside
    * duplicated n-grams" side of the Gopher rules (they apply it for
    * n = 5..10; the engine takes n as a parameter). Same sorted
    * run-length fold as [[topNgramCharMass]]: each repeat occurrence
    * (gram equals its sorted predecessor) adds its charlen once.
    */
  def dupNgramCharMass(grams: Column, n: Int): Column = {
    val sorted = array_sort(grams)
    aggregate(
      sorted,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("acc")),
      (st, g) => {
        val add = when(g === st.getField("prev"), length(g).cast("long") - lit((n - 1).toLong))
          .otherwise(lit(0L))
        struct(g.as("prev"), (st.getField("acc") + add).as("acc"))
      },
      st => st.getField("acc")
    )
  }

  /** The Gopher corpus-quality RULE SET (Rae et al. 2021, Table A1),
    * adapted to this whitespace-tokenized corpus: word-count bounds,
    * mean-word-length bounds, a required-stopword floor, char-weighted
    * top-n-gram caps (n = 2..4) and a char-weighted duplicate-5-gram
    * cap — plus the composite `keep` verdict a curation pipeline
    * filters on. (The corpus is single-line synthetic text, so the
    * line/paragraph duplicate rules are represented by their n-gram
    * char-fraction analogues; the ellipsis/bullet symbol rules have no
    * counterpart in a letters-only vocabulary.)
    *
    * All fractions are exact-integer numerators over the document's
    * total token characters, one double division each — bit-replayable
    * by any IEEE-754 engine. Entirely map-side column algebra: the
    * corpus text never shuffles, and the rule columns prune to a
    * boolean per rule before any downstream aggregation.
    */
  def withGopherRules(df: DataFrame, textCol: String): DataFrame = {
    val base = df
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("n_words", size(col("__toks")).cast("long"))
      .withColumn(
        "total_chars",
        aggregate(transform(col("__toks"), t => length(t).cast("long")), lit(0L), _ + _)
      )
      .withColumn("__g2", ngrams(col("__toks"), 2))
      .withColumn("__g3", ngrams(col("__toks"), 3))
      .withColumn("__g4", ngrams(col("__toks"), 4))
      .withColumn("__g5", ngrams(col("__toks"), 5))
    val tc = col("total_chars").cast("double")
    base
      .withColumn("mean_word_len", tc / col("n_words").cast("double"))
      .withColumn(
        "stop_hits",
        size(array_intersect(array_distinct(col("__toks")), lit(stopwords.toArray))).cast("long")
      )
      .withColumn("top2gram_char_frac", topNgramCharMass(col("__g2"), 2).cast("double") / tc)
      .withColumn("top3gram_char_frac", topNgramCharMass(col("__g3"), 3).cast("double") / tc)
      .withColumn("top4gram_char_frac", topNgramCharMass(col("__g4"), 4).cast("double") / tc)
      .withColumn("dup5gram_char_frac", dupNgramCharMass(col("__g5"), 5).cast("double") / tc)
      .withColumn("word_count_ok", col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("mean_len_ok", col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("stop_ok", col("stop_hits") >= 2)
      .withColumn("rep2_ok", col("top2gram_char_frac") <= 0.20)
      .withColumn("rep3_ok", col("top3gram_char_frac") <= 0.18)
      .withColumn("rep4_ok", col("top4gram_char_frac") <= 0.16)
      .withColumn("dup5_ok", col("dup5gram_char_frac") <= 0.15)
      .withColumn(
        "keep",
        col("word_count_ok") && col("mean_len_ok") && col("stop_ok") &&
          col("rep2_ok") && col("rep3_ok") && col("rep4_ok") && col("dup5_ok")
      )
      .drop("__toks", "__g2", "__g3", "__g4", "__g5")
  }
}
