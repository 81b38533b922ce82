package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.3):
  * language-ID heuristic, quality scoring, token stats, content
  * fingerprinting, rolling-hash winnowing. All pure `functions._` /
  * codegen expressions over the `documents` table — per-row, no
  * shuffle except the final presentation sort, so they stream over
  * 100 TB of text at scan speed.
  */
object Text {

  private def T(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** Per-language stopword lists for the n-gram/stopword-hit heuristic.
    * Priority order (ties broken toward earlier) is the Seq order.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "les", "et"),
    "es" -> Seq("el", "los", "las", "y"))

  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** Spark-side hit counter: tokens ∩ stopword list, counted in codegen
    * (no UDF, no shuffle). Shared with d09's survivor scoring.
    */
  private[operators] def hitsExpr(ws: Seq[String]) =
    s"size(filter(split(text, ' '), t -> t IN (${inList(ws)})))"

  /** DuckDB-side mirror of hitsExpr. */
  private[operators] def hitsSql(ws: Seq[String]) =
    s"len(list_filter(string_split(text, ' '), t -> t IN (${inList(ws)})))"

  /** Shared CASE deciding the predicted language from hit counts —
    * valid in both Spark SQL and DuckDB.
    */
  private val predCase: String = {
    val langs = stopwords.map(_._1)
    val arms = langs.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1)
      val geq = rest.map(r => s"h_$l >= h_$r").mkString(" AND ")
      val cond = if (geq.isEmpty) s"h_$l > 0" else s"h_$l > 0 AND $geq"
      s"WHEN $cond THEN '$l'"
    }
    s"CASE ${arms.mkString(" ")} ELSE 'und' END"
  }

  /** t01: language-ID — stopword-hit scoring with deterministic
    * priority tie-break.
    */
  def t01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hits = stopwords.map { case (l, ws) => expr(hitsExpr(ws)).as(s"h_$l") }
    T(s, dir, "documents")
      .select($"doc_id" +: $"lang" +: hits: _*)
      .withColumn("pred", expr(predCase))
      .orderBy($"doc_id")
  }

  /** t02: quality scoring — length/punctuation/stopword signals folded
    * into one bounded score.
    */
  def t02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "documents")
      .select($"doc_id",
        expr("size(split(text, ' '))").as("n_tokens"),
        length($"text").as("len_chars"),
        expr("length(regexp_replace(text, '[^.,!?;:]', ''))").as("n_punct"),
        expr(hitsExpr(stopwords.head._2)).as("n_stop"))
      .withColumn("stop_ratio",
        expr("round(CAST(n_stop AS DOUBLE) / n_tokens, 6)"))
      .withColumn("score", expr(
        "round(0.5e0 * least(n_tokens, 100) / 100.0e0 + 0.5e0 * (CAST(n_stop AS DOUBLE) / n_tokens), 6)"))
      .orderBy($"doc_id")
  }

  /** t03: token stats — counts, distinct counts, type-token ratio,
    * average token length.
    */
  def t03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "documents")
      .select($"doc_id",
        expr("size(split(text, ' '))").as("n_tokens"),
        expr("size(array_distinct(split(text, ' ')))").as("n_distinct"),
        expr("aggregate(transform(split(text, ' '), t -> length(t)), 0, (acc, x) -> acc + x)")
          .as("sum_len"))
      .withColumn("ttr", expr("round(CAST(n_distinct AS DOUBLE) / n_tokens, 6)"))
      .withColumn("avg_token_len", expr("round(CAST(sum_len AS DOUBLE) / n_tokens, 6)"))
      .orderBy($"doc_id")
  }

  /** t04: content-defined document fingerprint — md5 over the sorted
    * distinct token set (order-insensitive, whitespace-normal).
    */
  def t04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "documents")
      .select($"doc_id",
        md5(array_join(array_sort(array_distinct(split($"text", " "))), " "))
          .as("fingerprint"))
      .orderBy($"doc_id")
  }

  /** t05: winnowing rolling-hash fingerprint — custom codegen Catalyst
    * expression (min of 16-char polynomial window hashes). The oracle
    * replays the kernel bit-for-bit in DuckDB: 64-bit wraparound
    * multiplies become 32-bit split products in HUGEINT (see
    * `sqlMulMod`), so even the custom expression is hash-verified.
    */
  def t05(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "documents")
      .select($"doc_id", expr("rolling_minhash(text)").as("fp"))
      .orderBy($"doc_id")
  }

  /** Pretokenizer pattern shared with the oracle — letter runs, digit
    * runs, or single non-alphanumerics (the BPE-style pretokenization
    * shape); identical semantics under Java regex and RE2.
    */
  private[operators] val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** t06: BPE-ish regex token counting — the tokenizer-aware variant of
    * t03 (whitespace tokens); regexp_extract_all is codegen'd, per-row,
    * shuffle-free.
    */
  def t06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "documents")
      .select($"doc_id",
        expr(s"regexp_extract_all(text, '$bpePattern', 0)").as("toks"))
      .select($"doc_id", size($"toks").as("n_bpe_tokens"),
        expr("size(array_distinct(toks))").as("n_distinct"),
        element_at($"toks", 1).as("first_tok"))
      .orderBy($"doc_id")
  }

  /** t07: deterministic stratified sampling — a fixed per-source quota
    * of documents, ordered by a content hash so the sample is stable
    * across runs and engines (the corpus-curation "N docs per domain"
    * step of a training-data pipeline).
    *
    * Scale note: one shuffle on the stratum key; if strata are huge or
    * few (skew), pre-filter by a hash-prefix threshold chosen from
    * stratum counts (keeps ≥ quota whp) before the window, or salt the
    * stratum and take per-salt partial quotas — the window form here is
    * the exact-quota reference semantics.
    */
  def t07(s: SparkSession, dir: String): DataFrame =
    sampleBySource(s, dir, quotaSql = "10")

  /** Shared engine of t07/t11: deterministic content-hash ranking per
    * source, keep ranks up to a quota expression. ONE definition of
    * the ranking key — the cross-engine reproducibility of both
    * samplers hangs on it staying identical.
    */
  private def sampleBySource(s: SparkSession, dir: String,
      quotaSql: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source")
      .orderBy(md5(concat_ws("|", $"doc_id", $"text")), $"doc_id")
    T(s, dir, "documents")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= expr(quotaSql))
      .select($"doc_id", $"source", $"rk")
      .orderBy($"source", $"rk")
  }

  /** Shared oracle text for the samplers, parameterized by quota. */
  private def sampleBySourceSql(quotaSql: String): String =
    s"""SELECT doc_id, source, rk FROM (
       | SELECT doc_id, source,
       |  ROW_NUMBER() OVER (PARTITION BY source
       |    ORDER BY md5(doc_id || '|' || text), doc_id) AS rk
       | FROM documents)
       |WHERE rk <= $quotaSql ORDER BY source, rk""".stripMargin

  /** Per-source quota rule shared verbatim with the t11 oracle: quota
    * proportional to a deterministic per-source weight (derived from
    * the source id so both engines build the same mixture).
    */
  private val mixQuotaSql = "(CAST(substr(source, 4) AS INT) % 4 + 1) * 5"

  /** t11: data MIXING — the training-mixture step after curation:
    * sample each source to a weight-proportional quota so the final
    * corpus matches a target source distribution. Same deterministic
    * content-hash ranking as t07 (reproducible across runs and
    * engines), with a per-source quota instead of a constant. One
    * window shuffle keyed on source; the skew caveats and remedies are
    * t07's (hash-prefix pre-filter for mega-sources).
    */
  def t11(s: SparkSession, dir: String): DataFrame =
    sampleBySource(s, dir, mixQuotaSql)

  /** Training-sequence length for t12 — short because the synthetic
    * docs are ~60 tokens; a real pipeline would use 2048/4096. The
    * packing math is length-agnostic.
    */
  private val SeqLen = 256

  /** t12: SEQUENCE PACKING — the "concatenate documents and chunk into
    * fixed-length training sequences" step between curation and
    * tensorization. Documents are laid head-to-tail per source in the
    * t07 deterministic content-hash order (reproducible across runs and
    * engines); each document learns which training sequence(s) its
    * tokens land in (`seq_first`..`seq_last`) and at what offset in the
    * first one. Pure integer window math over ONE shuffle keyed on
    * source — the packing stream's natural shard key at 100 TB, since
    * each source/shard packs independently with no global coordination
    * (sequence ids are per-source; a global id is source-offset + seq).
    */
  def t12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source")
      .orderBy(md5(concat_ws("|", $"doc_id", $"text")), $"doc_id")
    T(s, dir, "documents")
      .withColumn("n_tokens", expr("size(split(text, ' '))"))
      .withColumn("cum", sum($"n_tokens".cast("long"))
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .select($"doc_id", $"source", $"n_tokens", $"cum",
        expr(s"CAST((cum - n_tokens) div $SeqLen AS BIGINT)").as("seq_first"),
        expr(s"CAST((cum - 1) div $SeqLen AS BIGINT)").as("seq_last"),
        expr(s"CAST((cum - n_tokens) % $SeqLen AS BIGINT)").as("seq_offset"))
      .orderBy($"doc_id")
  }

  /** Tokens per synthesized "line" for t13 — the corpus is single-line
    * token streams, so deterministic 10-token chunks stand in for the
    * natural lines/paragraphs a web corpus has (same synthesis trick as
    * t08's PII suffix); the dedup math is delimiter-agnostic.
    */
  private val LineTokens = 10

  /** t13: LINE-level exact dedup (the CCNet/RefinedWeb sub-document
    * pass): boilerplate lines repeated across the corpus — nav bars,
    * cookie banners, license headers — are removed from every document
    * except the line's global FIRST occurrence (smallest doc_id, then
    * smallest line index). Per doc: line counts before/after, the
    * duplicate-line fraction, and an md5 over the kept text (order
    * preserved) as the strong content check.
    *
    * Scale shape: lines explode map-side; the first-occurrence winner is
    * ONE partial-agg shuffle keyed on md5(line) — a constant-width key,
    * never the line text; the winner set joins back on that same hash
    * key (co-partitioned with the previous shuffle's output); the final
    * per-doc reassembly is one partial-agg shuffle keyed on doc_id.
    * Nothing self-joins and no key's fan-out depends on how often a
    * line repeats.
    */
  def t13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    flaggedLines(T(s, dir, "documents"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_lines"),
        count(when($"keep", 1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(when($"keep", struct($"idx", $"line")))),
          x => x.getField("line")), "\n")).as("kept_md5"))
      .withColumn("dup_line_frac", expr(
        "round(1.0e0 - CAST(n_kept AS DOUBLE) / n_lines, 6)"))
      .orderBy($"doc_id")
  }

  /** t13's engine over any (doc_id, text, …) frame: the corpus's lines
    * flagged with the global-first-occurrence keep bit. Shared by the
    * t13 stats query and [[dedupLines]].
    */
  /** The corpus's synthesized lines ([[LineTokens]]-token chunks, see
    * note above) keyed by line-content md5; extra per-doc columns named
    * in `carry` ride along. Shared by t13's global dedup and t22's
    * per-source boilerplate screen.
    */
  private def chunkedLines(docs: DataFrame, carry: String*): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val keep = ($"doc_id" +: carry.map(col))
    docs
      .select(keep :+ split($"text", " ").as("toks"): _*)
      .select(keep :+ posexplode(expr(
        s"""transform(sequence(0, CAST((size(toks) - 1) div $LineTokens AS INT)),
           | i -> array_join(slice(toks, i * $LineTokens + 1, $LineTokens), ' '))""".stripMargin)): _*)
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "line")
      .select(keep ++ Seq($"idx", md5($"line").as("h"), $"line"): _*)
  }

  private def flaggedLines(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val lines = chunkedLines(docs)
    // global first occurrence per line hash; the (doc_id, idx) order
    // key is a FIXED-WIDTH zero-padded string, so lexicographic min =
    // numeric min with no overflow/collision at any doc size or id
    // range (both engines format identically: format_string/printf)
    val fk = format_string("%019d%010d", $"doc_id", $"idx")
    val firsts = lines.groupBy($"h").agg(min(fk).as("first_key"))
    lines.join(firsts, "h")
      .withColumn("keep", fk === $"first_key")
  }

  /** The REWRITING form of t13 for pipeline use (CurateCorpus's
    * line-dedup stage): every corpus-duplicated line is removed except
    * its global first occurrence, each doc's text is reassembled from
    * its kept lines in order, and docs that lose every line drop out.
    * Non-text columns pass through; token-derived metadata is the
    * caller's to refresh.
    */
  def dedupLines(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val kept = flaggedLines(docs.select($"doc_id", $"text"))
      .filter($"keep")
      .groupBy($"doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"idx", $"line"))),
        x => x.getField("line")), " ").as("_new_text"))
    docs.join(kept, "doc_id")
      .withColumn("text", $"_new_text").drop("_new_text")
  }

  /** PII patterns shared with the oracle. `[.]` instead of `\.`
    * everywhere: Spark SQL string literals eat backslashes while DuckDB
    * literals don't, so a backslash-free pattern is the only form that
    * is byte-identical in both engines (semantics identical under Java
    * regex and RE2).
    */
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  private val ipPat = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

  /** t08's redaction over any text column (emails then IPv4s) — the
    * reusable form CurateCorpus applies before a corpus ships.
    */
  def redact(c: Column): Column =
    regexp_replace(regexp_replace(c, emailPat, "<EMAIL>"), ipPat, "<IP>")

  /** The composite quality-score formula over a raw `text` column —
    * the SINGLE source of the t02/qualitySignals/d09 scoring rule, so
    * the pipeline's survivor ranking and its filters cannot drift
    * apart (d09 wraps it in round(…, 6) before it becomes an ORDER
    * key).
    */
  private[graft] val scoreExpr: String =
    "0.5e0 * least(size(split(text, ' ')), 100) / 100.0e0 + " +
      s"0.5e0 * (CAST(${hitsExpr(stopwords.head._2)} AS DOUBLE) / size(split(text, ' ')))"

  /** t02's composite quality score and t09's 3-gram repetition over
    * any (text) frame — the filter signals CurateCorpus cuts on.
    */
  def qualitySignals(df: DataFrame): DataFrame = {
    df.withColumn("q_score", expr(scoreExpr))
      .withColumn("q_dup3", expr(
        "1.0e0 - CAST(size(shingles(split(text, ' '), 3)) AS DOUBLE) / " +
          "nullif(greatest(size(split(text, ' ')) - 2, 0), 0)"))
  }

  /** t08: PII scrub — count and redact emails / IPv4s before a corpus
    * ships to training (the compliance pass of an LLM data pipeline).
    * The synthetic corpus carries no PII, so a deterministic PII suffix
    * derived from doc_id is appended first (both engines build the same
    * string); the md5 of the redacted text is the strong content check.
    * Pure per-row regex work — codegen, shuffle-free, scan-speed.
    */
  def t08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // spread the under-split scan before the regex kernel (no-op at
    // scale — see Scale.spread; the sf1 probe ran this 13.5 s query
    // no faster on 32 cores than 8: one task)
    Scale.spread(T(s, dir, "documents"), $"doc_id")
      .withColumn("t", concat($"text",
        lit(" contact user"), $"doc_id".cast("string"),
        lit("@example.com via 10.0."),
        ($"doc_id" % 256).cast("string"), lit(".7")))
      .select($"doc_id",
        size(expr(s"regexp_extract_all(t, '$emailPat', 0)")).as("n_emails"),
        size(expr(s"regexp_extract_all(t, '$ipPat', 0)")).as("n_ips"),
        md5(expr(s"regexp_replace(regexp_replace(t, '$emailPat', '<EMAIL>'), '$ipPat', '<IP>')"))
          .as("redacted_md5"))
      .orderBy($"doc_id")
  }

  /** t09: repetition quality signals (the Gopher-style "fraction of
    * duplicate n-grams" filters) — 2-gram and 3-gram duplicate
    * fractions per document. The distinct-gram count runs in the fused
    * `shingles` codegen kernel (one loop, no interpreted lambda per
    * gram); per-row, shuffle-free, scan-speed.
    */
  def t09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id",
        greatest(size($"toks") - 1, lit(0)).as("n_2grams"),
        expr("size(shingles(toks, 2))").as("n_distinct_2grams"),
        greatest(size($"toks") - 2, lit(0)).as("n_3grams"),
        expr("size(shingles(toks, 3))").as("n_distinct_3grams"))
      .withColumn("dup_2gram_frac", expr(
        "round(1.0e0 - CAST(n_distinct_2grams AS DOUBLE) / nullif(n_2grams, 0), 6)"))
      .withColumn("dup_3gram_frac", expr(
        "round(1.0e0 - CAST(n_distinct_3grams AS DOUBLE) / nullif(n_3grams, 0), 6)"))
      .orderBy($"doc_id")
  }

  /** Vocabulary bound for t10 — the top-V tokens cover the bulk of any
    * natural corpus (Zipf), and a BOUNDED vocab is what keeps the
    * scoring join broadcastable at 100 TB.
    */
  private val VocabSize = 4096

  /** The "curated reference" source slice t34 trains against — the
    * stand-in for the books+wiki positive class of the CCNet/GPT-3
    * quality filter (in production this is its own corpus; here a
    * deterministic source subset so both engines derive identical
    * labels). ~20% of docs at every SF. Declared above the oracle map
    * (object-init order: non-literal vals referenced by `oracle` must
    * precede it).
    */
  private final val RefSources = Seq("src0", "src1", "src2", "src3")

  /** t10: corpus-level unigram log-prob scoring — the perplexity-proxy
    * quality filter (CCNet-style, with the corpus itself as the LM):
    * docs of common words score high, gibberish scores low. Two stages:
    * (1) token frequencies (one partial-agg shuffle on the token;
    * stop-word heavy hitters are absorbed map-side), top-V vocabulary
    * via orderBy+limit (TakeOrderedAndProject — never a global sort),
    * log-probs fixed to 6 decimals; (2) tokens left-join the BROADCAST
    * vocab (out-of-vocab → a 0.5-count floor), per-doc DECIMAL sum
    * (exact, order-independent — a double sum would be
    * accumulation-order-dependent and break the oracle hash), one
    * partial-agg shuffle keyed on doc_id. The only per-row double math
    * (divide, log10, round) happens on identical operands in both
    * engines.
    */
  /** t10's top-V vocabulary stage, shared with t26: token frequencies
    * (one partial-agg shuffle), TakeOrderedAndProject top-V — the
    * (tok, cnt) frame every vocab-relative scorer broadcasts.
    */
  private def topVocab(toks: DataFrame): DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"tok".asc).limit(VocabSize)
  }

  def t10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = T(s, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
    val counts = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum($"cnt").as("n"))
    val vocab = counts.orderBy($"cnt".desc, $"tok".asc).limit(VocabSize)
      .crossJoin(broadcast(total))
      .select($"tok", expr(
        "CAST(round(log10(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6))")
        .as("lp"))
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .crossJoin(broadcast(total))
      .select($"doc_id", coalesce($"lp", expr(
        "CAST(round(log10(0.5e0 / CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6))"))
        .as("lp"))
      .groupBy($"doc_id")
      // no final round: the operands (exact decimal sum → double, exact
      // count) are bit-identical in both engines and IEEE division is
      // correctly rounded, so the quotient already hash-matches —
      // whereas round() itself DISAGREES between engines on quotients
      // whose ×10⁶ product lands on a .5 only after double rounding
      // (DuckDB rounds via std::round(x·10⁶), Spark via exact
      // BigDecimal; seen live at sf0.001, doc 164)
      .agg(count(lit(1)).as("n_toks"),
        expr("CAST(CAST(sum(lp) AS DECIMAL(38,6)) AS DOUBLE) / CAST(count(1) AS DOUBLE)")
          .as("avg_logprob"))
      .orderBy($"doc_id")
  }

  /** Terms kept per doc in t14's tf-idf ranking. */
  private val TfIdfTopK = 3

  /** t14: per-document top-k terms by tf-idf — the keyword/relevance
    * weighting step of corpus curation (topic balancing, query-doc
    * relevance, boilerplate spotting: a doc whose top terms are
    * navigation chrome scores low). tf from ONE (doc, term) partial-agg
    * shuffle; document frequency from ONE term-keyed partial-agg
    * shuffle; the tf×df join is term-keyed — the vocabulary of a
    * 100 TB corpus is itself corpus-scale, so neither side broadcasts
    * (only the single-row total N does); top-k via a rank window over
    * the (doc, term) frame. idf goes through the t10 pattern —
    * round→DECIMAL(18,6) so both engines rank and sum bit-identical
    * values, one final double cast.
    */
  def t14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = T(s, dir, "documents")
    val tf = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(total))
      .withColumn("idf", expr(
        "CAST(round(log10(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS DECIMAL(18,6))"))
      .withColumn("score", expr("CAST(tf AS DECIMAL(18,0)) * idf"))
    val byDoc = Window.partitionBy($"doc_id")
      .orderBy($"score".desc, $"term".asc)
    scored
      .withColumn("rk", row_number().over(byDoc))
      .filter($"rk" <= TfIdfTopK)
      .select($"doc_id", $"rk", $"term", $"tf",
        expr("CAST(score AS DOUBLE)").as("tfidf"))
      .orderBy($"doc_id", $"rk")
  }

  /** Base-257 polynomial of a 16-char window `win`, mod 2^64 — the
    * rolled hash re-expressed positionally with precomputed power
    * literals (ord == byte on this ASCII corpus, matching the kernel's
    * UTF-8 byte walk). Shared 64-bit-wraparound machinery in OracleSql.
    */
  private def sqlPoly16: String = {
    val terms = (0 until 16).map { j =>
      val p = BigInt(257).modPow(BigInt(15 - j), OracleSql.M64)
      s"CAST(ord(substr(win, ${j + 1}, 1)) AS HUGEINT) * $p"
    }
    s"((${terms.mkString(" + ")}) % ${OracleSql.M64})"
  }

  /** The Gopher required-word list (Rae et al. 2021 §A1.1): a document
    * must contain at least [[GopherMinRequired]] of these to pass.
    */
  private val gopherRequired =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private val GopherMinRequired = 2

  /** t15: Gopher-style heuristic quality rules (Rae et al. 2021) — the
    * standard pre-training document gate: word-count bounds, mean word
    * length bounds, alphabetic-word fraction, and the required-stopword
    * rule, each emitted as its own signal plus the conjunctive keep
    * flag (pipelines tune thresholds per source, so the signals matter
    * as much as the verdict). Pure per-row codegen arithmetic over one
    * scan — shuffle-free, runs at scan speed at any corpus size; the
    * DuckDB oracle re-computes every signal from the same definitions.
    */
  def t15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val req = gopherRequired.map(w => s"'$w'").mkString(", ")
    T(s, dir, "documents")
      .withColumn("n_words", expr("size(split(text, ' '))"))
      .withColumn("mean_word_len", expr(
        "round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / n_words, 6)"))
      .withColumn("alpha_frac", expr(
        "round(CAST(size(filter(split(text, ' '), t -> t RLIKE '[A-Za-z]')) AS DOUBLE) / n_words, 6)"))
      .withColumn("n_required", expr(
        s"size(filter(split(text, ' '), t -> t IN ($req)))"))
      .withColumn("ok_words", $"n_words" >= 50 && $"n_words" <= 100000)
      .withColumn("ok_word_len", $"mean_word_len" >= 3.0 && $"mean_word_len" <= 10.0)
      .withColumn("ok_alpha", $"alpha_frac" > 0.8)
      .withColumn("ok_required", $"n_required" >= GopherMinRequired)
      .withColumn("keep",
        $"ok_words" && $"ok_word_len" && $"ok_alpha" && $"ok_required")
      .select($"doc_id", $"n_words", $"mean_word_len", $"alpha_frac",
        $"n_required", $"ok_words", $"ok_word_len", $"ok_alpha",
        $"ok_required", $"keep")
      .orderBy($"doc_id")
  }

  /** t16: deterministic CONTENT-hash train/val/test split — assignment
    * keyed on md5(text), not doc_id or randomness, so byte-identical
    * documents land in the same split no matter which shard, source, or
    * ingest run they arrive through (the leakage-safe split rule;
    * doc-id- or random-keyed splits leak duplicated text across
    * train/eval). Fixed-width lowercase hex compares lexicographically
    * = numerically, so the 80/10/10 cut is two string comparisons —
    * pure per-row codegen, shuffle-free, and identical in DuckDB (both
    * engines emit the same md5 hex), making the whole assignment
    * hash-verified. Stratify per source by prepending a salt to the
    * hash input if a pipeline needs per-source ratios.
    */
  def t16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "documents")
      .withColumn("h2", expr("substring(md5(text), 1, 2)"))
      .withColumn("split",
        when($"h2" < "cd", "train")      // 205/256 ~ 80.1%
          .when($"h2" < "e6", "val")     //  25/256 ~  9.8%
          .otherwise("test"))            //  26/256 ~ 10.2%
      .select($"doc_id", $"h2", $"split")
      .orderBy($"doc_id")
  }

  /** t17 target corpus size (documents kept across all sources). */
  private val MixTarget = 120

  /** t17: TEMPERATURE-scaled mixture sampling — the multilingual /
    * multi-source rebalancing rule (sample source s proportionally to
    * n_s^(1/T), here T=2): big sources are down-weighted, small sources
    * up-weighted, flattening the natural size distribution toward
    * uniform without discarding the long tail. t11 mixes to FIXED
    * per-source weights; t17 derives the weights from the observed
    * counts, which is how real training mixtures (mC4, ROOTS) are set.
    *
    * Determinism across engines: the normalized share is kept in exact
    * integer space — w_s = round(sqrt(n_s)·10^6) as a LONG, total = Σw
    * (exact), quota = max(1, (target·w_s) div total) — so no float
    * summation-order ulp can flip a floor boundary between Spark and
    * the oracle. Document selection inside a source is t07's
    * deterministic content-hash ranking.
    *
    * Scale shape: counts and weights live on a source-dim-sized frame
    * (broadcast both ways); the corpus sees ONE window shuffle keyed on
    * source — t07's shape — and the single-row total is a broadcast
    * cross join, never a driver collect.
    */
  def t17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = T(s, dir, "documents")
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w", expr("CAST(round(sqrt(n_docs) * 1000000) AS BIGINT)"))
    val tot = counts.agg(sum($"w").as("tot_w"))
    val quotas = counts.crossJoin(broadcast(tot))
      .withColumn("quota",
        greatest(lit(1L), expr(s"($MixTarget * w) div tot_w")).cast("long"))
      .select($"source", $"quota")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source")
      .orderBy(md5(concat_ws("|", $"doc_id", $"text")), $"doc_id")
    T(s, dir, "documents")
      .withColumn("rk", row_number().over(w))
      .join(broadcast(quotas), "source")
      .filter($"rk" <= $"quota")
      .select($"doc_id", $"source", $"rk", $"quota")
      .orderBy($"source", $"rk")
  }

  /** t18 result size — the report is a bounded top-K, never the full
    * gram table.
    */
  private val HeavyK = 30

  /** t18: corpus-wide HEAVY-HITTER n-gram mining — the top-K most
    * widespread word 3-grams by document frequency (boilerplate
    * discovery: cookie banners, license headers, nav chrome surface
    * here before any dedup pass sees them; the mined list feeds d08's
    * decontamination shape as a removal dim). Two partial-agg shuffles:
    * (doc_id, gram) occurrence counts collapse map-side first (a page
    * repeating its own boilerplate 1000× contributes 1000 to tf but
    * arrives at the gram key as ONE row), then the gram-keyed rollup
    * derives tf = Σ per-doc counts and df = row count in a single
    * pass — document frequency without a count-distinct expand. Top-K
    * via orderBy+limit = TakeOrderedAndProject (per-partition heap, no
    * global sort). The gram string itself is the second shuffle key
    * (bounded: 3 words) — at corpus scale the heavy tail is exactly
    * what partial aggregation absorbs, and skew cannot concentrate
    * because a gram's combined row count is its df ≤ corpus docs,
    * spread over the hash space.
    */
  def t18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = T(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", explode(expr(
        """CASE WHEN size(toks) >= 3
          | THEN transform(sequence(0, size(toks) - 3),
          |   i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))
          | ELSE array_repeat('', 0) END""".stripMargin)).as("g"))
    grams.groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
      .groupBy($"g").agg(sum($"c").as("tf"), count(lit(1)).as("df"))
      .orderBy($"df".desc, $"tf".desc, $"g".asc)
      .limit(HeavyK)
  }

  /** t19: corpus-level BIGRAM log-prob scoring — t10's perplexity
    * proxy upgraded to a first-order LM: each adjacent token pair
    * scores log10(cnt(w1,w2) / ctx(w1)) from the corpus's own top-V
    * bigram table, out-of-vocab pairs get the same 0.5-count floor.
    * Catches fluent-vocabulary-but-scrambled-order text that unigram
    * scoring cannot separate (word-salad spam is t10-high, t19-low).
    *
    * Same scale regime as t10: bigram counts are ONE (w1,w2)
    * partial-agg shuffle (stop-pair heavy hitters absorbed map-side);
    * the context counts roll up from the ALREADY-AGGREGATED gram table
    * (vocab-scale, never the corpus), and their join lands on the
    * post-limit top-V side (4096 rows — broadcastable; at tiny SF AQE
    * picks the side); top-V via TakeOrderedAndProject; per-doc scoring
    * = broadcast vocab left-join + exact order-free DECIMAL sum, one
    * doc_id partial-agg shuffle. Only the single-row total crosses as
    * a broadcast. Docs with fewer than two tokens have no bigrams and
    * drop in both engines.
    */
  def t19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = T(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(0, size(w) - 2),
          |  i -> named_struct('w1', w[i], 'w2', w[i + 1]))""".stripMargin)).as("p"))
      .select($"doc_id", $"p.w1".as("w1"), $"p.w2".as("w2"))
    val counts = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("cnt"))
    val ctx = counts.groupBy($"w1").agg(sum($"cnt").as("ctx"))
    val total = counts.agg(sum($"cnt").as("n"))
    val vocab = counts.orderBy($"cnt".desc, $"w1".asc, $"w2".asc).limit(VocabSize)
      .join(ctx, "w1")
      .select($"w1", $"w2", expr(
        "CAST(round(log10(CAST(cnt AS DOUBLE) / CAST(ctx AS DOUBLE)), 6) AS DECIMAL(18,6))")
        .as("lp"))
    pairs.join(broadcast(vocab), Seq("w1", "w2"), "left")
      .crossJoin(broadcast(total))
      .select($"doc_id", coalesce($"lp", expr(
        "CAST(round(log10(0.5e0 / CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6))"))
        .as("lp"))
      .groupBy($"doc_id")
      // no final round — see t10: the DECIMAL sum and counts are
      // bit-identical operands, IEEE division is correctly rounded
      .agg(count(lit(1)).as("n_pairs"),
        expr("CAST(CAST(sum(lp) AS DECIMAL(38,6)) AS DOUBLE) / CAST(count(1) AS DOUBLE)")
          .as("avg_logprob"))
      .orderBy($"doc_id")
  }

  /** t20 keyword set — language-agnostic high-precision code tokens,
    * shared verbatim with the oracle.
    */
  private val codeKeywords = Seq("def", "class", "return", "import",
    "function", "var", "const", "if", "else", "for", "while", "int",
    "void", "public", "static")

  /** t20: CODE-vs-PROSE detection — the mixture-weighting signal every
    * LLM corpus pipeline needs before setting code/prose sampling
    * ratios (and before routing docs to code-specific filters): symbol
    * density ({};()= per char), code-keyword hits, camelCase token
    * fraction, plus the conjunctive flag. Pure per-row codegen regex
    * counts over one scan — shuffle-free, scan-speed at any corpus
    * size (t15's regime); every signal recomputed by the oracle.
    * ApproxAccuracySpec proves the discrimination on injected code.
    */
  /** t20's signal chain over any frame with a `text` column — shared
    * verbatim by the query and CurateCorpus's modality-routing stage,
    * so the router's verdict is exactly the oracle-verified rule.
    */
  def codeSignals(df: DataFrame): DataFrame = {
    val kw = codeKeywords.map(w => s"'$w'").mkString(", ")
    df
      .withColumn("n_words", expr("size(split(text, ' '))"))
      .withColumn("n_sym", expr("size(regexp_extract_all(text, '[{}();=]', 0))"))
      .withColumn("sym_frac", expr(
        "round(CAST(n_sym AS DOUBLE) / nullif(length(text), 0), 6)"))
      .withColumn("n_kw", expr(
        s"size(filter(split(text, ' '), t -> t IN ($kw)))"))
      .withColumn("camel_frac", expr(
        "round(CAST(size(filter(split(text, ' '), t -> t RLIKE '^[a-z]+[A-Z]')) AS DOUBLE) / n_words, 6)"))
      .withColumn("is_code",
        col("sym_frac") > 0.03 || (col("n_kw") >= 3 && col("sym_frac") > 0.01))
  }

  def t20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    codeSignals(T(s, dir, "documents"))
      .select($"doc_id", $"n_words", $"n_sym", $"sym_frac", $"n_kw",
        $"camel_frac", $"is_code")
      .orderBy($"doc_id")
  }

  /** t21: READABILITY scoring — Flesch reading-ease and Flesch-Kincaid
    * grade level from words-per-sentence and syllables-per-word (vowel-
    * group heuristic: maximal [aeiouy]+ runs; a real syllable counter
    * slots in without changing the plan). The education-quality signal
    * of curation mixes (FineWeb-Edu-style filtering ranks docs by
    * grade-level fit before sampling). Per-row codegen regex counts —
    * shuffle-free, scan-speed (t15's regime). The score arithmetic
    * runs UNROUNDED: both engines see identical integer operands and
    * the same IEEE op tree, so the doubles match bit-for-bit (a final
    * round() is the one op the engines disagree on — see t10).
    */
  def t21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "documents")
      .select($"doc_id",
        expr("size(split(text, ' '))").as("n_words"),
        expr("greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1)")
          .as("n_sents"),
        expr("size(regexp_extract_all(lower(text), '[aeiouy]+', 0))")
          .as("n_syll"))
      .withColumn("flesch", expr(
        "206.835e0 - 1.015e0 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE)) " +
          "- 84.6e0 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))"))
      .withColumn("fk_grade", expr(
        "0.39e0 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE)) " +
          "+ 11.8e0 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)) - 15.59e0"))
      .orderBy($"doc_id")
  }

  /** t22 boilerplate rule: a line is boilerplate within its source when
    * it appears in ≥ [[BoilerMinDocs]] docs AND ≥ 5% of the source's
    * docs (df·20 ≥ n_docs — integer compare, no float threshold).
    * Production web corpora run ~30%/df≥3; the laxer setting exercises
    * the rule on this synthetic corpus's short tail-chunk repeats.
    */
  private final val BoilerMinDocs = 2

  /** t24: LANGUAGE-ID EVALUATION — the confusion matrix of t01's
    * predictions against each document's declared language: per
    * (declared, predicted) pair, document count, the row-normalized
    * share, and the diagonal flag (s09's "grade the production path"
    * move applied to language ID — the number read before trusting
    * t01's routing for per-language mixture weights). Composes t01 AS
    * A DATAFRAME.
    *
    * Scale shape: t01's shuffle-free scan + ONE partial-agg shuffle
    * over the bounded langs² key space; the share window runs on that
    * dim-sized frame.
    */
  def t24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t01(s, dir)
      .groupBy($"lang", $"pred").agg(count(lit(1)).as("n_docs"))
      .withColumn("share", expr(
        "round(CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE), 6)"))
      .withColumn("hit", $"lang" === $"pred")
      .orderBy($"lang", $"pred")
  }

  /** t25's quality floor — CurateCorpus's default `minScore`, so the
    * report predicts exactly what that job's quality cut will drop.
    */
  private final val QualityFloor = 0.25

  /** t25: per-source QUALITY PROFILE — each source's t02 score
    * distribution (count, exact median/p95, and the count + fraction
    * below [[QualityFloor]]): the pre-flight report read before
    * running CurateCorpus's quality cut or setting t11/t17 mixture
    * weights (a source shipping 40% sub-floor docs gets fixed or
    * down-weighted, not sampled as-is). Composes t02 AS A DATAFRAME.
    *
    * Scale shape: t02's shuffle-free scan, a doc_id-keyed broadcast-
    * free join back to the source column (co-partitioned scans of the
    * same table — Catalyst collapses it to one pass), then ONE
    * partial-agg shuffle on the bounded source dim; exact percentiles
    * per group are q11's single shared-buffer `percentile(…, array)`
    * aggregate.
    */
  def t25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = t02(s, dir).select($"doc_id", $"score")
      .join(T(s, dir, "documents").select($"doc_id", $"source"), "doc_id")
    scored.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        expr("percentile(score, array(0.5e0, 0.95e0))").as("ps"),
        count(when($"score" < QualityFloor, 1)).as("n_below"))
      .select($"source", $"n_docs",
        expr("round(ps[0], 6)").as("median_score"),
        expr("round(ps[1], 6)").as("p95_score"),
        $"n_below",
        expr("round(CAST(n_below AS DOUBLE) / n_docs, 6)").as("below_frac"))
      .orderBy($"source")
  }

  /** The per-source boilerplate line set (t22's rule) — shared by the
    * t22 stats query and [[trimBoilerplate]].
    */
  private def boilerLines(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val lines = chunkedLines(docs, "source")
    val srcDocs = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
    val dfreq = lines.select($"source", $"h", $"doc_id").distinct()
      .groupBy($"source", $"h").agg(count(lit(1)).as("df"))
    dfreq.join(broadcast(srcDocs), "source")
      .filter($"df" >= BoilerMinDocs && $"df" * 20 >= $"n_docs")
      .select($"source", $"h", lit(true).as("is_boiler"))
  }

  /** t22's REWRITING form for pipeline use (CurateCorpus's optional
    * boilerplate-trim stage): every per-source boilerplate line is
    * removed from EVERY doc of that source, text reassembled in line
    * order; docs losing every line drop out. Non-text columns pass
    * through; token-derived metadata is the caller's to refresh
    * (dedupLines' contract).
    */
  def trimBoilerplate(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val kept = chunkedLines(docs.select($"doc_id", $"source", $"text"), "source")
      .join(boilerLines(docs), Seq("source", "h"), "left")
      .filter($"is_boiler".isNull)
      .groupBy($"doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"idx", $"line"))),
        x => x.getField("line")), " ").as("_new_text"))
    docs.join(kept, "doc_id")
      .withColumn("text", $"_new_text").drop("_new_text")
  }

  /** t22: per-source BOILERPLATE screen (the RefinedWeb/CCNet template
    * pass): a line repeated across a large fraction of ONE source's
    * documents is template chrome — nav bars, cookie banners, footers —
    * and is removed from EVERY document of that source (unlike t13,
    * which keeps a global first occurrence of any exact repeat). Per
    * doc: line counts, boilerplate count, md5 over the kept text, and
    * the removed fraction.
    *
    * Scale shape: lines explode map-side; document frequency is ONE
    * partial-agg shuffle keyed on (source, md5(line)) — constant-width
    * key, per-doc repeats collapse in the distinct's partial agg; the
    * per-source doc totals are a source-dim frame (broadcast); the
    * boilerplate set joins back on the same (source, h) key,
    * co-partitioned with the df shuffle; per-doc reassembly is one
    * doc_id-keyed partial agg. No self-joins, no key whose fan-out
    * grows with repeat frequency.
    */
  def t22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = T(s, dir, "documents")
    val lines = chunkedLines(docs, "source")
    lines.join(boilerLines(docs), Seq("source", "h"), "left")
      .withColumn("keep", $"is_boiler".isNull)
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_lines"),
        count(when(!$"keep", 1)).as("n_boiler"),
        md5(array_join(transform(
          array_sort(collect_list(when($"keep", struct($"idx", $"line")))),
          x => x.getField("line")), "\n")).as("kept_md5"))
      .withColumn("boiler_frac", expr(
        "round(CAST(n_boiler AS DOUBLE) / n_lines, 6)"))
      .orderBy($"doc_id")
  }

  /** t23: WORD-ENTROPY lexical-diversity scoring — per-doc Shannon
    * entropy of the token distribution, H = log2 n − (Σ c·log2 c)/n,
    * plus the 0–1 diversity ratio H / log2 n and a low-diversity flag
    * (< 0.5): the curation signal that catches token-loop spam and
    * template chatter whose LENGTH passes t15's Gopher rules and whose
    * VOCABULARY passes t01 (a doc repeating 5 words forever has fine
    * stopword ratios; its entropy collapses). t03 counts distinct
    * tokens; entropy weighs them by mass.
    *
    * Exactness: t10's decimal-stabilized log pattern — each c·log2 c
    * term is rounded to 6 decimals and cast DECIMAL so the per-doc sum
    * is EXACT and order-free (a raw double Σ would be
    * partition-order-sensitive); the final subtraction/division runs
    * on identical operands in both engines.
    *
    * Scale shape: tokens explode map-side; (doc, tok) counts collapse
    * in ONE partial-agg shuffle (the per-doc key keeps hot tokens from
    * concentrating — fan-in is per-document, not corpus-wide), and the
    * per-doc rollup re-shuffles only the counted rows on doc_id.
    */
  def t23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .withColumn("term", expr(
        "CAST(round(c * log2(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6))"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_toks"), count(lit(1)).as("n_distinct"),
        expr("CAST(CAST(sum(term) AS DECIMAL(38,6)) AS DOUBLE)").as("s6"))
      .withColumn("entropy", expr(
        "CAST(CAST(round(log2(CAST(n_toks AS DOUBLE)), 6) AS DECIMAL(18,6)) AS DOUBLE)" +
          " - s6 / CAST(n_toks AS DOUBLE)"))
      .withColumn("diversity", expr(
        """CASE WHEN n_toks = 1 THEN 0.0e0 ELSE entropy /
          | CAST(CAST(round(log2(CAST(n_toks AS DOUBLE)), 6) AS DECIMAL(18,6)) AS DOUBLE) END""".stripMargin))
      .withColumn("low_diversity", $"diversity" < 0.5)
      .select($"doc_id", $"n_toks", $"n_distinct", $"entropy",
        $"diversity", $"low_diversity")
      .orderBy($"doc_id")
  }

  /** t26: VOCABULARY-COVERAGE report — per source, how well t10's
    * top-[[VocabSize]] corpus vocabulary covers the token stream (the
    * "will a vocab/LM built on this corpus serve each source"
    * pre-flight: a source with a high OOV rate is domain-shifted —
    * another language, code, ID noise — and needs its own vocab budget
    * or a t11/t17 mixture reweight before training). Per source: token
    * count, OOV token count, exact OOV rate, and distinct OOV types
    * (gap WIDTH vs raw OOV mass — one exotic token repeated a million
    * times is a different problem than a million singletons).
    *
    * Scale shape: t10's frequency stage (ONE token-keyed partial-agg
    * shuffle + TakeOrderedAndProject top-V, broadcast back); the
    * scoring pass left-joins the broadcast vocab and partial-aggs on
    * the bounded source dim — the token stream shuffles once for the
    * frequencies and once (source-keyed, map-side combined) for the
    * rollup; the distinct-type count re-keys only OOV tokens.
    */
  def t26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = T(s, dir, "documents")
      .select($"source", explode(split($"text", " ")).as("tok"))
    val vocab = topVocab(toks.select($"tok"))
      .select($"tok", lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_toks"),
        count(when($"in_vocab".isNull, 1)).as("n_oov"),
        countDistinct(when($"in_vocab".isNull, $"tok")).as("n_oov_types"))
      .withColumn("oov_rate", expr(
        "round(CAST(n_oov AS DOUBLE) / CAST(n_toks AS DOUBLE), 6)"))
      .select($"source", $"n_toks", $"n_oov", $"n_oov_types", $"oov_rate")
      .orderBy($"source")
  }

  /** t27: DOMAIN-DIVERGENCE matrix — pairwise Jensen–Shannon
    * divergence (base-2, so 0 = identical, 1 = disjoint) between each
    * source's unigram distribution over the shared top-[[VocabSize]]
    * corpus vocabulary: the quantitative form of t26's domain-shift
    * question ("which sources are the SAME kind of text?") and the
    * input a t11/t17 mixture designer actually wants — near-zero pairs
    * are interchangeable and can share a mixture weight, near-one
    * pairs are distinct domains that each need their own. JS over the
    * bounded vocab (not raw KL) because it is symmetric, finite when a
    * token is missing on one side, and bounded [0,1].
    *
    * Exactness: distributions are p = c/n doubles on identical BIGINT
    * operands (IEEE divide, bit-equal both engines); each per-token JS
    * term is rounded to 6 decimals and summed as DECIMAL (t23's
    * order-free pattern); tokens present on only one side contribute
    * their raw mass (log2(2p/p) = 1), folded in CLOSED FORM as
    * (1 − Σ_shared p) — never materializing the one-sided rows; the
    * final (term + gap_a + gap_b) stays EXACT in DECIMAL, is cast once
    * to double (correctly rounded to the same bits both engines), and
    * halved by `* 0.5` — an exact binary scaling, so no final round()
    * whose half-way ties the engines could break differently (a
    * round(0.5·x, 6) here DID diverge at a 7th-decimal tie in
    * development: Spark's shortest-repr HALF_UP vs DuckDB's
    * binary-value rounding).
    *
    * Scale shape: the token stream shuffles ONCE for vocab frequencies
    * (TakeOrderedAndProject top-V, broadcast back) and ONCE for the
    * (source, token) counts (map-side combine absorbs hot tokens
    * per-source); everything after is source×vocab-bounded: the shared
    * frame is an equi-join on token between two copies of that bounded
    * frame (fan-out = sources² per token, a dim² constant), and the
    * pair skeleton is a sources-dim self-join (BNLJ on a
    * broadcast-dim-sized side, ceilinged in PlanInvariantSpec) so
    * token-disjoint pairs still report js = 1.
    */
  def t27(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = T(s, dir, "documents")
      .select($"source", explode(split($"text", " ")).as("tok"))
    val vocab = topVocab(toks.select($"tok")).select($"tok")
    val sc = toks.join(broadcast(vocab), Seq("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
    val totals = sc.groupBy($"source").agg(sum($"c").as("n"))
    val dist = sc.join(broadcast(totals), Seq("source"))
      .withColumn("p", $"c".cast("double") / $"n".cast("double"))
      .select($"source", $"tok", $"p")
    // dist is bounded at sources × VocabSize rows at ANY corpus scale
    // (both factors are design constants), so the build side broadcasts
    // — the post-agg frame has no stats for the static planner to see.
    val shared = dist.as("a").join(broadcast(dist.as("b")),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.p").as("pa"), col("b.p").as("pb"))
      .withColumn("term", expr(
        "CAST(round(pa * log2(2.0e0 * pa / (pa + pb))" +
          " + pb * log2(2.0e0 * pb / (pa + pb)), 6) AS DECIMAL(18,6))"))
      .withColumn("pa6", expr("CAST(round(pa, 6) AS DECIMAL(18,6))"))
      .withColumn("pb6", expr("CAST(round(pb, 6) AS DECIMAL(18,6))"))
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_shared"),
        expr("CAST(sum(term) AS DECIMAL(38,6))").as("st"),
        expr("CAST(sum(pa6) AS DECIMAL(38,6))").as("sp"),
        expr("CAST(sum(pb6) AS DECIMAL(38,6))").as("sq"))
    val pairs = totals.as("x").join(broadcast(totals.as("y")),
        col("x.source") < col("y.source"))
      .select(col("x.source").as("src_a"), col("y.source").as("src_b"))
    pairs.join(broadcast(shared), Seq("src_a", "src_b"), "left")
      .select($"src_a", $"src_b",
        coalesce($"n_shared", lit(0L)).as("n_shared_tokens"),
        expr("CAST(coalesce(st, CAST(0 AS DECIMAL(38,6)))" +
          " + (CAST(2 AS DECIMAL(18,6))" +
          " - coalesce(sp, CAST(0 AS DECIMAL(38,6)))" +
          " - coalesce(sq, CAST(0 AS DECIMAL(38,6)))) AS DOUBLE) * 0.5e0")
          .as("js_div"))
      .orderBy($"src_a", $"src_b")
  }

  /** t28: LENGTH-OUTLIER screen — docs whose character length sits
    * more than 1.8 population standard deviations from their SOURCE's
    * mean: the distribution-relative companion to t15's absolute
    * Gopher length gates (a 50-word post is normal in a chat source
    * and an anomaly in a books source; fixed thresholds can't say
    * both). Truncation artifacts, concatenation bugs, and scrape junk
    * land in the tails per-source, not per-corpus.
    *
    * Exactness: the flag NEVER computes mean/stddev in floating
    * point — |x − S1/n| > (9/5)σ is squared into the fully-integer
    * form 25·(n·x − S1)² > 81·(n·S2 − S1²) on DECIMAL(38,0)/HUGEINT
    * operands (q25's regime — the rational threshold stays a pair of
    * integer factors), so both engines flag the identical doc set; the
    * REPORTED z is then one double expression on identical integer
    * operands.
    *
    * Scale shape: the moment frame (n, Σx, Σx²) is ONE partial-agg
    * shuffle to the source dim, broadcast back over a second scan;
    * flagged rows are the only output. No window, no sort of the
    * corpus — the screen is two codegen scans + a dim join.
    */
  def t28(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = T(s, dir, "documents").select($"doc_id", $"source", $"n_chars")
    // DECIMAL sums, not BIGINT: a corpus-scale Σx² wraps int64 silently
    // in Spark while DuckDB raises — the q25 divergence class
    val moments = docs.groupBy($"source")
      .agg(count(lit(1)).as("n"),
        sum($"n_chars".cast("decimal(38,0)")).as("s1"),
        sum(($"n_chars" * $"n_chars").cast("decimal(38,0)")).as("s2"))
    docs.join(broadcast(moments), Seq("source"))
      .withColumn("dev", expr(
        "CAST(n AS DECIMAL(38,0)) * CAST(n_chars AS DECIMAL(38,0)) - CAST(s1 AS DECIMAL(38,0))"))
      .withColumn("varx", expr(
        "CAST(n AS DECIMAL(38,0)) * CAST(s2 AS DECIMAL(38,0)) - CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0))"))
      .filter(expr("25 * dev * dev > 81 * varx"))
      .withColumn("z", expr(
        "round(CAST(dev AS DOUBLE) / sqrt(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)), 6)"))
      .select($"doc_id", $"source", $"n_chars", $"z")
      .orderBy($"doc_id")
  }

  /** t29: N-GRAM NOVELTY scoring — per doc, the fraction of its
    * distinct word 3-grams whose FIRST corpus occurrence (lowest
    * doc_id, the ingestion-order proxy) is this doc: the marginal-
    * contribution question a curation pipeline asks when deciding what
    * a new slice adds ("novelty ≈ 0" = the doc restates the corpus;
    * d04 asks "is there one other doc like this", t29 asks "does this
    * doc add ANY phrasing the corpus hasn't seen"). The per-doc score
    * is what dedup can't give: a graded redundancy measure even for
    * docs with no single near-duplicate partner.
    *
    * Scale shape: distinct 3-grams per doc via the codegen shingles
    * kernel (map-side), first-occurrence frame is ONE gram-keyed
    * partial-agg shuffle (min doc_id), and the score join is a shuffle
    * join on the gram key BY DESIGN — the gram vocabulary of a
    * corpus-scale input is itself corpus-scale, t14's declared regime
    * (AQE broadcasts it at tiny SF); the rollup re-keys on doc_id.
    */
  def t29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = T(s, dir, "documents")
      .select($"doc_id", explode(expr("shingles(split(text, ' '), 3)")).as("g"))
    val first = grams.groupBy($"g").agg(min($"doc_id").as("first_doc"))
    grams.join(first, Seq("g"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", expr(
        "round(CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)"))
      .orderBy($"doc_id")
  }

  /** Per-source rank depth for t30's Zipf fit — deep enough that the
    * fit sees the power-law tail, bounded so the regression frame is a
    * sources×256 constant.
    */
  private val ZipfTopK = 256

  /** t30: ZIPF-SLOPE fit — per source, ordinary least squares of
    * log10(freq) on log10(rank) over the source's top-[[ZipfTopK]]
    * tokens: natural language sits near slope −1 (Zipf's law); a flat
    * slope means ID/tag noise (uniform junk vocabulary), a cliff means
    * template spam (few tokens carry everything). The corpus-level
    * sanity gauge t01/t15 can't give: those score DOCUMENTS, this
    * scores the SOURCE's whole frequency structure.
    *
    * Exactness: the regression NEVER iterates — closed-form OLS from
    * four decimal-stabilized sums (x, y, xy, x² each rounded to 6
    * decimals and summed as DECIMAL, t23's order-free pattern); slope
    * and intercept are then single double expressions on identical
    * operands in both engines.
    *
    * Scale shape: ONE (source, token)-keyed partial-agg shuffle; the
    * per-source rank is q18's top-k-per-group window (the one
    * per-source sort, filtered to 256 immediately); the regression
    * runs on the sources×256 constant frame.
    */
  def t30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = T(s, dir, "documents")
      .select($"source", explode(split($"text", " ")).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"source").orderBy($"cnt".desc, $"tok".asc)
    counts.withColumn("rank", row_number().over(w))
      .filter($"rank" <= ZipfTopK)
      .withColumn("x", expr(
        "CAST(round(log10(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6))"))
      .withColumn("y", expr(
        "CAST(round(log10(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(18,6))"))
      .withColumn("xy", expr(
        "CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 6) AS DECIMAL(18,6))"))
      .withColumn("xx", expr(
        "CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 6) AS DECIMAL(18,6))"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_tokens"),
        expr("CAST(sum(x) AS DECIMAL(38,6))").as("sx"),
        expr("CAST(sum(y) AS DECIMAL(38,6))").as("sy"),
        expr("CAST(sum(xy) AS DECIMAL(38,6))").as("sxy"),
        expr("CAST(sum(xx) AS DECIMAL(38,6))").as("sxx"))
      .select($"source", $"n_tokens",
        expr("round((CAST(n_tokens AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
          " / (CAST(n_tokens AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)")
          .as("zipf_slope"),
        expr("round((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))" +
          " / (CAST(n_tokens AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)")
          .as("zipf_intercept"))
      .orderBy($"source")
  }

  /** t31 chunk geometry: 48-token windows on a 40-token stride (8-token
    * overlap) — short because the synthetic docs are ~60 tokens; real
    * RAG stacks use 512/448. The chunk math is length-agnostic.
    */
  private final val ChunkLen = 48
  private final val ChunkStride = 40

  /** t31: RAG CHUNKING — each document split into fixed-length
    * overlapping token windows with a per-chunk manifest row (index,
    * 1-based token start, token count, md5 of the chunk text): the
    * retrieval-corpus build step between curation and embedding (t12
    * packs docs INTO sequences for training; this fans docs OUT into
    * retrieval units). Chunk count = 1 + ceil(max(0, n−len)/stride),
    * so every token is covered and consecutive chunks share the
    * overlap.
    *
    * Scale shape: `sequence` + explode is a bounded per-row fan-out
    * (≤ n/stride) computed map-side from one scan — no shuffle at all;
    * the chunk digests are per-row codegen. At 100 TB chunking runs at
    * scan speed and the output partitions inherit the input's.
    */
  def t31(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("toks"))
      .withColumn("n_toks", size($"toks"))
      .withColumn("ci", explode(expr(
        s"sequence(0, (greatest(n_toks - $ChunkLen, 0) + ${ChunkStride - 1}) div $ChunkStride)")))
      .select($"doc_id", $"ci".as("chunk_ix"),
        ($"ci" * ChunkStride + 1).as("tok_start"),
        least(lit(ChunkLen), $"n_toks" - $"ci" * ChunkStride).as("chunk_toks"),
        md5(expr(s"array_join(slice(toks, ci * $ChunkStride + 1, $ChunkLen), ' ')"))
          .as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_ix")
  }

  /** t32 BM25 parameters (Robertson k1/b defaults) and the fixed query
    * term set (mid-to-high-df corpus vocabulary, so every term scores a
    * non-trivial posting list at every SF).
    */
  private final val Bm25K1 = "1.2"
  private final val Bm25B = "0.75"
  private final val Bm25Terms = Seq("merge", "stream", "filter", "spark")
  private final val Bm25TopK = 10

  /** t32: BM25 RANKING — top-10 documents per query term under the
    * Okapi BM25 score (the lexical-retrieval baseline every RAG/search
    * stack ships beside its ANN path; t14's tf-idf profiles documents,
    * BM25 RANKS them for a query with length normalization). idf is the
    * Robertson +1 form, ln((N−df+0.5)/(df+0.5)+1), ROUNDED to 6
    * decimals before use (ln is the one op whose last ulp differs
    * across engines — t10's decimal-stabilized log rule); everything
    * else — tf saturation, length normalization vs avgdl — is IEEE
    * double arithmetic on identical integer operands in identical
    * order, so scores match bit for bit and the rank order cannot
    * diverge.
    *
    * Scale shape: term tf's are a ≤|terms| map-side fan-out of one scan
    * (no posting-list join — the term set rides as a literal array);
    * df/N/avgdl collapse to a |terms|-row and a single-row frame, both
    * BROADCAST back; top-k per term is one rank window on the bounded
    * term key over the posting rows only.
    */
  def t32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // spread the under-split scan before the per-term token filters
    // (20 array scans per doc — no-op at scale, see Scale.spread)
    val docs = Scale.spread(T(s, dir, "documents"), $"doc_id")
      .select($"doc_id", split($"text", " ").as("toks"))
      .withColumn("dl", size($"toks"))
    val post = docs
      .select($"doc_id", $"dl", explode(typedLit(Bm25Terms)).as("term"),
        $"toks")
      .withColumn("tf", expr("size(filter(toks, t -> t = term))"))
      .filter($"tf" > 0)
      .drop("toks")
    val corpus = docs.agg(count(lit(1)).as("n_docs"),
      sum($"dl".cast("long")).as("sum_dl"))
    val dfreq = post.groupBy($"term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"term").orderBy($"score".desc, $"doc_id".asc)
    post
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(corpus))
      .withColumn("avgdl", expr("CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)"))
      .withColumn("idf6", expr(
        "round(ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0), 6)"))
      .withColumn("score", expr(
        s"idf6 * (CAST(tf AS DOUBLE) * ($Bm25K1 + 1.0)) / " +
          s"(CAST(tf AS DOUBLE) + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * CAST(dl AS DOUBLE) / avgdl))"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= Bm25TopK)
      .select($"term", $"doc_id", $"tf", $"dl", $"score", $"rk")
      .orderBy($"term", $"rk")
  }

  /** t33: CROSS-DOC DUPLICATED-GRAM FRACTION — per doc, the share of
    * its distinct 3-shingles that appear in at least one OTHER doc:
    * t09 measures repetition WITHIN a doc, t29 scores first-occurrence
    * novelty in doc_id order; this is the order-free "how much of this
    * document is boilerplate the corpus already has" signal
    * (RefinedWeb/CCNet-style duplicated-n-gram curation cut). A doc
    * can be 100% novel by t29 (it came first) and still be 100%
    * duplicated here — the two gates prune different docs.
    *
    * Scale shape: t29's exact two-shuffle corpus-frequency regime —
    * explode distinct shingles (per-row codegen), ONE partial-agg
    * shuffle on the gram key for document frequency, one gram-keyed
    * join back (corpus-scale by design, same as t14's term join), one
    * doc-keyed rollup. Shingles are [[graft.functions.Kernels]]
    * codegen, distinct within doc, so count(*) per gram IS the df.
    */
  def t33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = T(s, dir, "documents")
      .select($"doc_id", explode(expr("shingles(split(text, ' '), 3)")).as("g"))
    val df = grams.groupBy($"g").agg(count(lit(1)).as("df"))
    grams.join(df, Seq("g"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"df" >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_fraction", expr(
        "round(CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)"))
      .orderBy($"doc_id")
  }

  val oracle: Map[String, String] = Map(
    "t33_dup_gram_fraction" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |grams AS (SELECT doc_id, unnest(list_distinct(
        |  [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN generate_series(1, len(w) - 2)])) AS g
        | FROM toks),
        |df AS (SELECT g, count(*) AS df FROM grams GROUP BY 1)
        |SELECT doc_id, count(*) AS n_grams,
        | CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        | round(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE), 6) AS dup_fraction
        |FROM grams JOIN df USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t31_rag_chunk" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
         |           FROM documents),
         |c AS (SELECT doc_id, toks, len(toks) AS n_toks,
         |  unnest(generate_series(0,
         |    (greatest(len(toks) - $ChunkLen, 0) + ${ChunkStride - 1}) // $ChunkStride)) AS ci
         | FROM d)
         |SELECT doc_id, ci AS chunk_ix,
         | ci * $ChunkStride + 1 AS tok_start,
         | least($ChunkLen, n_toks - ci * $ChunkStride) AS chunk_toks,
         | md5(array_to_string(
         |   toks[(ci * $ChunkStride + 1):(ci * $ChunkStride + $ChunkLen)], ' ')) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_ix""".stripMargin,
    "t32_bm25" ->
      s"""WITH docs AS (
         | SELECT doc_id, string_split(text, ' ') AS toks,
         |  len(string_split(text, ' ')) AS dl
         | FROM documents),
         |corpus AS (SELECT count(*) AS n_docs, SUM(dl) AS sum_dl FROM docs),
         |post AS (
         | SELECT doc_id, dl, term,
         |  len(list_filter(toks, t -> t = term)) AS tf
         | FROM docs,
         |  (SELECT unnest([${Bm25Terms.map("'" + _ + "'").mkString(",")}]) AS term)
         | WHERE len(list_filter(toks, t -> t = term)) > 0),
         |dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
         |scored AS (
         | SELECT p.term, doc_id, tf, dl,
         |  round(ln((CAST(n_docs - df AS DOUBLE) + 0.5)
         |      / (CAST(df AS DOUBLE) + 0.5) + 1.0), 6)
         |   * (CAST(tf AS DOUBLE) * ($Bm25K1 + 1.0))
         |   / (CAST(tf AS DOUBLE) + $Bm25K1 * (1.0 - $Bm25B
         |      + $Bm25B * CAST(dl AS DOUBLE)
         |        / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS score
         | FROM post p JOIN dfreq USING (term), corpus)
         |SELECT term, doc_id, CAST(tf AS BIGINT) AS tf, dl, score,
         | ROW_NUMBER() OVER (PARTITION BY term
         |   ORDER BY score DESC, doc_id) AS rk
         |FROM scored QUALIFY rk <= $Bm25TopK ORDER BY term, rk""".stripMargin,
    "t30_zipf_slope" ->
      s"""WITH counts AS (
         | SELECT source, tok, count(*) AS cnt
         | FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
         |   FROM documents)
         | GROUP BY 1, 2),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
         |   ORDER BY cnt DESC, tok ASC) AS rank FROM counts),
         |terms AS (SELECT source,
         |  CAST(round(log10(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
         |  CAST(round(log10(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
         | FROM ranked WHERE rank <= $ZipfTopK),
         |t2 AS (SELECT source, x, y,
         |  CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 6) AS DECIMAL(18,6)) AS xy,
         |  CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 6) AS DECIMAL(18,6)) AS xx
         | FROM terms),
         |agg AS (SELECT source, count(*) AS n_tokens,
         |  CAST(sum(x) AS DECIMAL(38,6)) AS sx,
         |  CAST(sum(y) AS DECIMAL(38,6)) AS sy,
         |  CAST(sum(xy) AS DECIMAL(38,6)) AS sxy,
         |  CAST(sum(xx) AS DECIMAL(38,6)) AS sxx
         | FROM t2 GROUP BY 1)
         |SELECT source, n_tokens,
         | round((CAST(n_tokens AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |   / (CAST(n_tokens AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         |   AS zipf_slope,
         | round((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
         |   / (CAST(n_tokens AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         |   AS zipf_intercept
         |FROM agg ORDER BY source""".stripMargin,
    "t29_ngram_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |grams AS (SELECT doc_id, unnest(list_distinct(
        |  [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN generate_series(1, len(w) - 2)])) AS g
        | FROM toks),
        |first AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY 1)
        |SELECT doc_id, count(*) AS n_grams,
        | CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        | round(CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM grams JOIN first USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t28_length_outliers" ->
      """WITH m AS (SELECT source, count(*) AS n,
        |  CAST(sum(n_chars) AS HUGEINT) AS s1,
        |  CAST(sum(n_chars * n_chars) AS HUGEINT) AS s2
        | FROM documents GROUP BY 1),
        |j AS (SELECT doc_id, d.source, n_chars, n, s1, s2,
        |  CAST(n AS HUGEINT) * n_chars - s1 AS dev,
        |  CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS varx
        | FROM documents d JOIN m ON d.source = m.source)
        |SELECT doc_id, source, n_chars,
        | round(CAST(dev AS DOUBLE) / sqrt(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
        |   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)), 6) AS z
        |FROM j WHERE 25 * dev * dev > 81 * varx
        |ORDER BY doc_id""".stripMargin,
    "t27_domain_divergence" ->
      s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |vocab AS (SELECT tok FROM (
         |  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
         |  ORDER BY cnt DESC, tok ASC LIMIT $VocabSize),
         |sc AS (SELECT source, t.tok, count(*) AS c
         |  FROM toks t JOIN vocab v ON t.tok = v.tok GROUP BY 1, 2),
         |tot AS (SELECT source, sum(c) AS n FROM sc GROUP BY 1),
         |dist AS (SELECT sc.source, tok,
         |  CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p
         | FROM sc JOIN tot ON sc.source = tot.source),
         |shared AS (SELECT a.source AS src_a, b.source AS src_b,
         |  count(*) AS n_shared,
         |  CAST(sum(CAST(round(a.p * log2(2.0e0 * a.p / (a.p + b.p))
         |    + b.p * log2(2.0e0 * b.p / (a.p + b.p)), 6)
         |    AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS st,
         |  CAST(sum(CAST(round(a.p, 6) AS DECIMAL(18,6)))
         |    AS DECIMAL(38,6)) AS sp,
         |  CAST(sum(CAST(round(b.p, 6) AS DECIMAL(18,6)))
         |    AS DECIMAL(38,6)) AS sq
         | FROM dist a JOIN dist b
         |   ON a.tok = b.tok AND a.source < b.source GROUP BY 1, 2),
         |pairs AS (SELECT x.source AS src_a, y.source AS src_b
         |  FROM tot x JOIN tot y ON x.source < y.source)
         |SELECT p.src_a, p.src_b,
         | coalesce(n_shared, CAST(0 AS BIGINT)) AS n_shared_tokens,
         | CAST(coalesce(st, CAST(0 AS DECIMAL(38,6)))
         |   + (CAST(2 AS DECIMAL(18,6))
         |   - coalesce(sp, CAST(0 AS DECIMAL(38,6)))
         |   - coalesce(sq, CAST(0 AS DECIMAL(38,6)))) AS DOUBLE) * 0.5e0 AS js_div
         |FROM pairs p LEFT JOIN shared s
         |  ON p.src_a = s.src_a AND p.src_b = s.src_b
         |ORDER BY p.src_a, p.src_b""".stripMargin,
    "t26_vocab_coverage" ->
      s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |vocab AS (SELECT tok FROM (
         |  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
         |  ORDER BY cnt DESC, tok ASC LIMIT $VocabSize)
         |SELECT source, count(*) AS n_toks,
         | count(*) FILTER (WHERE v.tok IS NULL) AS n_oov,
         | count(DISTINCT CASE WHEN v.tok IS NULL THEN t.tok END) AS n_oov_types,
         | round(CAST(count(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE)
         |   / count(*), 6) AS oov_rate
         |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
         |GROUP BY source ORDER BY source""".stripMargin,
    "t25_source_quality" ->
      s"""WITH sc AS (SELECT doc_id, source,
         |  round(0.5e0 * least(len(string_split(text, ' ')), 100) / 100.0e0
         |    + 0.5e0 * (CAST(${hitsSql(stopwords.head._2)} AS DOUBLE)
         |      / len(string_split(text, ' '))), 6) AS score
         | FROM documents)
         |SELECT source, count(*) AS n_docs,
         | round(quantile_cont(score, 0.5e0), 6) AS median_score,
         | round(quantile_cont(score, 0.95e0), 6) AS p95_score,
         | count(*) FILTER (WHERE score < $QualityFloor) AS n_below,
         | round(CAST(count(*) FILTER (WHERE score < $QualityFloor) AS DOUBLE)
         |   / count(*), 6) AS below_frac
         |FROM sc GROUP BY source ORDER BY source""".stripMargin,
    "t24_langid_eval" -> {
      val hitCols = stopwords
        .map { case (l, ws) => s"${hitsSql(ws)} AS h_$l" }.mkString(",\n  ")
      s"""WITH p AS (SELECT lang, $predCase AS pred
         |  FROM (SELECT doc_id, lang,
         |   $hitCols
         |   FROM documents)),
         |c AS (SELECT lang, pred, count(*) AS n_docs FROM p GROUP BY 1, 2)
         |SELECT lang, pred, n_docs,
         | round(CAST(n_docs AS DOUBLE)
         |   / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE), 6) AS share,
         | (lang = pred) AS hit
         |FROM c ORDER BY lang, pred""".stripMargin
    },
    "t23_word_entropy" ->
      """WITH c AS (SELECT doc_id, tok, count(*) AS c
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |   FROM documents)
        | GROUP BY 1, 2),
        |t AS (SELECT doc_id, c,
        |  CAST(round(c * log2(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS term
        | FROM c),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
        |  count(*) AS n_distinct,
        |  CAST(CAST(sum(term) AS DECIMAL(38,6)) AS DOUBLE) AS s6
        | FROM t GROUP BY doc_id),
        |h AS (SELECT doc_id, n_toks, n_distinct,
        |  CAST(CAST(round(log2(CAST(n_toks AS DOUBLE)), 6) AS DECIMAL(18,6)) AS DOUBLE)
        |    - s6 / CAST(n_toks AS DOUBLE) AS entropy,
        |  CASE WHEN n_toks = 1 THEN 0.0 ELSE
        |   (CAST(CAST(round(log2(CAST(n_toks AS DOUBLE)), 6) AS DECIMAL(18,6)) AS DOUBLE)
        |     - s6 / CAST(n_toks AS DOUBLE))
        |   / CAST(CAST(round(log2(CAST(n_toks AS DOUBLE)), 6) AS DECIMAL(18,6)) AS DOUBLE)
        |  END AS diversity
        | FROM agg)
        |SELECT doc_id, n_toks, n_distinct, entropy, diversity,
        | (diversity < 0.5) AS low_diversity
        |FROM h ORDER BY doc_id""".stripMargin,
    "t22_boilerplate_trim" ->
      s"""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
         |lines AS (SELECT doc_id, source,
         |  unnest(generate_series(0, (len(w) - 1) // $LineTokens)) AS idx,
         |  unnest(list_transform(generate_series(0, (len(w) - 1) // $LineTokens),
         |    i -> array_to_string(w[i * $LineTokens + 1 : (i + 1) * $LineTokens], ' '))) AS line
         |  FROM toks),
         |hashed AS (SELECT doc_id, source, idx, md5(line) AS h, line FROM lines),
         |ndocs AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         |dfreq AS (SELECT source, h, count(DISTINCT doc_id) AS df
         |  FROM hashed GROUP BY 1, 2),
         |boiler AS (SELECT source, h, TRUE AS is_boiler
         |  FROM dfreq JOIN ndocs USING (source)
         |  WHERE df >= $BoilerMinDocs AND df * 20 >= n_docs),
         |flagged AS (SELECT doc_id, source, idx, line,
         |  (is_boiler IS NULL) AS keep
         |  FROM hashed LEFT JOIN boiler USING (source, h))
         |SELECT doc_id, source, count(*) AS n_lines,
         | count(*) FILTER (WHERE NOT keep) AS n_boiler,
         | md5(coalesce(string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE keep), '')) AS kept_md5,
         | round(CAST(count(*) FILTER (WHERE NOT keep) AS DOUBLE) / count(*), 6) AS boiler_frac
         |FROM flagged GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    "t21_readability" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        | CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS INT) AS n_sents,
        | CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT) AS n_syll,
        | 206.835e0 - 1.015e0 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
        |     / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE))
        |   - 84.6e0 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
        |     / CAST(len(string_split(text, ' ')) AS DOUBLE)) AS flesch,
        | 0.39e0 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
        |     / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE))
        |   + 11.8e0 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
        |     / CAST(len(string_split(text, ' ')) AS DOUBLE)) - 15.59e0 AS fk_grade
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t20_code_detect" -> {
      val kw = codeKeywords.map(w => s"'$w'").mkString(", ")
      s"""WITH sig AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
         |  CAST(len(regexp_extract_all(text, '[{}();=]')) AS INT) AS n_sym,
         |  round(CAST(len(regexp_extract_all(text, '[{}();=]')) AS DOUBLE)
         |    / nullif(length(text), 0), 6) AS sym_frac,
         |  CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($kw))) AS INT) AS n_kw,
         |  round(CAST(len(list_filter(string_split(text, ' '),
         |      t -> regexp_matches(t, '^[a-z]+[A-Z]'))) AS DOUBLE)
         |    / len(string_split(text, ' ')), 6) AS camel_frac
         | FROM documents)
         |SELECT doc_id, n_words, n_sym, sym_frac, n_kw, camel_frac,
         | (sym_frac > 0.03 OR (n_kw >= 3 AND sym_frac > 0.01)) AS is_code
         |FROM sig ORDER BY doc_id""".stripMargin
    },
    "t19_bigram_logprob" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |pairs AS (SELECT doc_id, w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
         |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM w)),
         |counts AS (SELECT w1, w2, count(*) AS cnt FROM pairs GROUP BY w1, w2),
         |ctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx FROM counts GROUP BY w1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM counts),
         |vocab AS (SELECT v.w1, v.w2,
         |  CAST(round(log10(CAST(v.cnt AS DOUBLE) / CAST(c.ctx AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp
         |  FROM (SELECT * FROM counts ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT $VocabSize) v
         |  JOIN ctx c USING (w1)),
         |scored AS (SELECT p.doc_id, coalesce(v.lp,
         |   CAST(round(log10(0.5e0 / CAST((SELECT n FROM tot) AS DOUBLE)), 6) AS DECIMAL(18,6))) AS lp
         |  FROM pairs p LEFT JOIN vocab v ON p.w1 = v.w1 AND p.w2 = v.w2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
         | CAST(CAST(sum(lp) AS DECIMAL(38,6)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_logprob
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t18_heavy_hitters" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents),
         |idx AS (SELECT doc_id, w,
         |  unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM toks),
         |grams AS (SELECT doc_id,
         |  w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' ||
         |  w[CAST(i AS INT) + 2] AS g FROM idx),
         |pg AS (SELECT doc_id, g, count(*) AS c FROM grams
         |  GROUP BY doc_id, g)
         |SELECT g, CAST(sum(c) AS BIGINT) AS tf, count(*) AS df
         |FROM pg GROUP BY g
         |ORDER BY df DESC, tf DESC, g LIMIT $HeavyK""".stripMargin,
    "t17_temperature_mix" ->
      s"""WITH cnt AS (SELECT source, count(*) AS n_docs
         |  FROM documents GROUP BY source),
         |w AS (SELECT source, n_docs,
         |  CAST(round(sqrt(n_docs) * 1000000) AS BIGINT) AS w FROM cnt),
         |tot AS (SELECT SUM(w) AS tot_w FROM w),
         |q AS (SELECT source,
         |  CAST(greatest(1, ($MixTarget * w) // (SELECT tot_w FROM tot))
         |    AS BIGINT) AS quota
         |  FROM w),
         |ranked AS (SELECT doc_id, source,
         |  ROW_NUMBER() OVER (PARTITION BY source
         |    ORDER BY md5(doc_id || '|' || text), doc_id) AS rk
         |  FROM documents)
         |SELECT r.doc_id, r.source, r.rk, q.quota
         |FROM ranked r JOIN q USING (source)
         |WHERE r.rk <= q.quota ORDER BY source, rk""".stripMargin,
    "t16_hash_split" ->
      s"""SELECT doc_id, substr(md5(text), 1, 2) AS h2,
         | CASE WHEN substr(md5(text), 1, 2) < 'cd' THEN 'train'
         |      WHEN substr(md5(text), 1, 2) < 'e6' THEN 'val'
         |      ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t15_gopher_rules" -> {
      val req = gopherRequired.map(w => s"'$w'").mkString(", ")
      s"""WITH sig AS (SELECT doc_id,
         |  len(string_split(text, ' ')) AS n_words,
         |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |    / len(string_split(text, ' ')), 6) AS mean_word_len,
         |  round(CAST(len(list_filter(string_split(text, ' '),
         |      t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
         |    / len(string_split(text, ' ')), 6) AS alpha_frac,
         |  len(list_filter(string_split(text, ' '),
         |      t -> t IN ($req))) AS n_required
         | FROM documents)
         |SELECT doc_id, CAST(n_words AS INT) AS n_words, mean_word_len,
         | alpha_frac, CAST(n_required AS INT) AS n_required,
         | (n_words >= 50 AND n_words <= 100000) AS ok_words,
         | (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_word_len,
         | (alpha_frac > 0.8) AS ok_alpha,
         | (n_required >= $GopherMinRequired) AS ok_required,
         | (n_words >= 50 AND n_words <= 100000
         |  AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |  AND alpha_frac > 0.8
         |  AND n_required >= $GopherMinRequired) AS keep
         |FROM sig ORDER BY doc_id""".stripMargin
    },
    "t14_tfidf" ->
      s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents)
         |  GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (SELECT t.doc_id, t.term, t.tf,
         |  CAST(t.tf AS DECIMAL(18,0)) *
         |    CAST(round(log10(CAST((SELECT n_docs FROM n) AS DOUBLE)
         |      / CAST(d.df AS DOUBLE)), 6) AS DECIMAL(18,6)) AS score
         |  FROM tf t JOIN dfreq d USING (term)),
         |ranked AS (SELECT doc_id, term, tf, score,
         |  ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term ASC) AS rk
         |  FROM scored)
         |SELECT doc_id, CAST(rk AS INT) AS rk, term, tf,
         | CAST(score AS DOUBLE) AS tfidf
         |FROM ranked WHERE rk <= $TfIdfTopK ORDER BY doc_id, rk""".stripMargin,
    // every 16-char window's avalanched polynomial hash, unsigned-min
    // per doc, sign-converted back to the kernel's Long. range(1,4096)
    // bounds window starts (docs here are ≤ ~600 chars; a doc under 16
    // chars would emit no window — corpus min length is 44).
    "t05_rolling_hash" ->
      s"""WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
         |w AS (SELECT doc_id, substr(text, CAST(i AS INT), 16) AS win
         |      FROM d CROSS JOIN range(1, 4096) t(i) WHERE i + 15 <= len),
         |h AS (SELECT doc_id, CAST(${OracleSql.avalanche(sqlPoly16)} AS UBIGINT) AS hv FROM w),
         |m AS (SELECT doc_id, min(hv) AS mh FROM h GROUP BY doc_id)
         |SELECT doc_id, ${OracleSql.toSigned("mh")} AS fp
         |FROM m ORDER BY doc_id""".stripMargin,
    "t34_quality_classifier" -> {
      val refIn = RefSources.map(r => s"'$r'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id,
         |  CASE WHEN source IN ($refIn) THEN 1 ELSE 0 END AS is_ref,
         |  unnest(string_split(text, ' ')) AS tok FROM documents),
         |counts AS (SELECT tok, count(*) AS cnt,
         |  count(CASE WHEN is_ref = 1 THEN 1 END) AS pc FROM toks GROUP BY tok),
         |tot AS (SELECT count(CASE WHEN is_ref = 1 THEN 1 END) AS ptot,
         |  count(CASE WHEN is_ref = 0 THEN 1 END) AS ntot FROM toks),
         |vocab AS (SELECT tok,
         |  CAST(round(log10(
         |   ((CAST(pc AS DOUBLE) + 0.5) / (CAST((SELECT ptot FROM tot) AS DOUBLE) + 0.5)) /
         |   ((CAST(cnt - pc AS DOUBLE) + 0.5) / (CAST((SELECT ntot FROM tot) AS DOUBLE) + 0.5))), 6)
         |   AS DECIMAL(18,6)) AS lo
         |  FROM counts ORDER BY cnt DESC, tok ASC LIMIT $VocabSize),
         |scored AS (SELECT t.doc_id, t.is_ref,
         |  coalesce(v.lo, CAST(round(log10(
         |   (0.5e0 / (CAST((SELECT ptot FROM tot) AS DOUBLE) + 0.5)) /
         |   (0.5e0 / (CAST((SELECT ntot FROM tot) AS DOUBLE) + 0.5))), 6) AS DECIMAL(18,6))) AS lo
         |  FROM toks t LEFT JOIN vocab v USING (tok))
         |SELECT doc_id, is_ref, CAST(count(*) AS BIGINT) AS n_toks,
         | CAST(CAST(sum(lo) AS DECIMAL(38,6)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS score,
         | CAST(CASE WHEN CAST(CAST(sum(lo) AS DECIMAL(38,6)) AS DOUBLE) / CAST(count(*) AS DOUBLE) > 0.0e0
         |      THEN 1 ELSE 0 END AS INTEGER) AS pred
         |FROM scored GROUP BY doc_id, is_ref ORDER BY doc_id""".stripMargin
    },
    "t10_unigram_logprob" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM counts),
         |vocab AS (SELECT tok,
         |  CAST(round(log10(CAST(cnt AS DOUBLE) / CAST((SELECT n FROM tot) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp
         |  FROM counts ORDER BY cnt DESC, tok ASC LIMIT $VocabSize),
         |scored AS (SELECT t.doc_id,
         |  coalesce(v.lp,
         |   CAST(round(log10(0.5e0 / CAST((SELECT n FROM tot) AS DOUBLE)), 6) AS DECIMAL(18,6))) AS lp
         |  FROM toks t LEFT JOIN vocab v USING (tok))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         | CAST(CAST(sum(lp) AS DECIMAL(38,6)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_logprob
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t09_repetition" ->
      """SELECT doc_id, n_2grams, n_distinct_2grams, n_3grams, n_distinct_3grams,
        | round(1.0e0 - CAST(n_distinct_2grams AS DOUBLE) / nullif(n_2grams, 0), 6) AS dup_2gram_frac,
        | round(1.0e0 - CAST(n_distinct_3grams AS DOUBLE) / nullif(n_3grams, 0), 6) AS dup_3gram_frac
        |FROM (SELECT doc_id,
        |  CAST(greatest(len(w) - 1, 0) AS INTEGER) AS n_2grams,
        |  CAST(len(list_distinct(list_transform(generate_series(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1]))) AS INTEGER) AS n_distinct_2grams,
        |  CAST(greatest(len(w) - 2, 0) AS INTEGER) AS n_3grams,
        |  CAST(len(list_distinct(list_transform(generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS INTEGER) AS n_distinct_3grams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "t08_pii_scrub" ->
      s"""SELECT doc_id,
         | CAST(len(regexp_extract_all(t, '$emailPat')) AS INTEGER) AS n_emails,
         | CAST(len(regexp_extract_all(t, '$ipPat')) AS INTEGER) AS n_ips,
         | md5(regexp_replace(regexp_replace(t, '$emailPat', '<EMAIL>', 'g'), '$ipPat', '<IP>', 'g')) AS redacted_md5
         |FROM (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR)
         |   || '@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "t07_stratified_sample" -> sampleBySourceSql("10"),
    "t12_seq_pack" ->
      s"""SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum,
         | CAST((cum - n_tokens) // $SeqLen AS BIGINT) AS seq_first,
         | CAST((cum - 1) // $SeqLen AS BIGINT) AS seq_last,
         | CAST((cum - n_tokens) % $SeqLen AS BIGINT) AS seq_offset
         |FROM (
         | SELECT doc_id, source, n_tokens,
         |  SUM(n_tokens) OVER (PARTITION BY source
         |    ORDER BY md5(doc_id || '|' || text), doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum
         | FROM (SELECT doc_id, source, text,
         |       len(string_split(text, ' ')) AS n_tokens FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "t11_source_mix" -> sampleBySourceSql(mixQuotaSql),
    "t13_line_dedup" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |lines AS (SELECT doc_id,
         |  unnest(generate_series(0, (len(w) - 1) // $LineTokens)) AS idx,
         |  unnest(list_transform(generate_series(0, (len(w) - 1) // $LineTokens),
         |    i -> array_to_string(w[i * $LineTokens + 1 : (i + 1) * $LineTokens], ' '))) AS line
         |  FROM toks),
         |hashed AS (SELECT doc_id, idx, md5(line) AS h, line FROM lines),
         |firsts AS (SELECT h, min(printf('%019d%010d', doc_id, idx)) AS first_key
         |  FROM hashed GROUP BY h),
         |flagged AS (SELECT doc_id, idx, line,
         |  (printf('%019d%010d', doc_id, idx) = first_key) AS keep
         |  FROM hashed JOIN firsts USING (h))
         |SELECT doc_id, count(*) AS n_lines,
         | count(*) FILTER (WHERE keep) AS n_kept,
         | md5(coalesce(string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE keep), '')) AS kept_md5,
         | round(1.0e0 - CAST(count(*) FILTER (WHERE keep) AS DOUBLE) / count(*), 6) AS dup_line_frac
         |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t01_lang_id" -> {
      val hitCols = stopwords
        .map { case (l, ws) => s"${hitsSql(ws)} AS h_$l" }.mkString(",\n  ")
      s"""SELECT doc_id, lang, ${stopwords.map(l => s"h_${l._1}").mkString(", ")},
         | $predCase AS pred
         |FROM (SELECT doc_id, lang,
         |  $hitCols
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin
    },
    "t02_quality_score" ->
      s"""SELECT doc_id, n_tokens, len_chars, n_punct, n_stop,
         | round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
         | round(0.5e0 * least(n_tokens, 100) / 100.0e0 + 0.5e0 * (CAST(n_stop AS DOUBLE) / n_tokens), 6) AS score
         |FROM (SELECT doc_id,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  length(text) AS len_chars,
         |  length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
         |  ${hitsSql(stopwords.head._2)} AS n_stop
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "t03_token_stats" ->
      """SELECT doc_id, n_tokens, n_distinct, sum_len,
        | round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS ttr,
        | round(CAST(sum_len AS DOUBLE) / n_tokens, 6) AS avg_token_len
        |FROM (SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS INTEGER) AS sum_len
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "t04_fingerprint" ->
      """SELECT doc_id,
        | md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t35_token_fertility" ->
      // DuckDB sum(BIGINT) widens to DECIMAL(38,0) — CAST back to
      // BIGINT to match Spark's LongType sums
      s"""SELECT source, count(*) AS n_docs,
         | CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
         | CAST(sum(nw) AS BIGINT) AS n_words,
         | CAST(sum(nb) AS DOUBLE) / CAST(sum(nw) AS DOUBLE) AS fertility
         |FROM (SELECT source,
         |  CAST(len(regexp_extract_all(text, '$bpePattern', 0)) AS BIGINT) AS nb,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
         |  FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin,
    "t06_bpe_tokens" ->
      s"""SELECT doc_id, len(toks) AS n_bpe_tokens,
         | len(list_distinct(toks)) AS n_distinct,
         | toks[1] AS first_tok
         |FROM (SELECT doc_id, regexp_extract_all(text, '$bpePattern', 0) AS toks
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
  )

  /** t34: LEARNED QUALITY CLASSIFIER — the CCNet/GPT-3 pipeline's
    * "does this look like the reference corpus?" filter, as a
    * Naive-Bayes linear model trained INSIDE the query: per-token
    * smoothed log-odds of the curated [[RefSources]] class vs the rest
    * over the top-[[VocabSize]] vocabulary, then every document scored
    * by its mean token log-odds (OOV tokens take the 0.5-count floor,
    * t10's convention) with the keep/drop prediction and the true
    * label for in-query precision auditing. t02/t15 are hand-written
    * heuristic gates; t34 is the data-driven gate trained on a
    * reference corpus — the third leg of a production quality stack.
    *
    * Scale regime = t10's exactly: one (tok) partial-agg shuffle for
    * the class counts (heavy hitters absorbed map-side), top-V via
    * TakeOrderedAndProject, log-odds fixed to 6 decimals on identical
    * double operands, per-doc scoring = broadcast vocab left-join +
    * exact order-free DECIMAL sum + one (doc_id) partial-agg shuffle;
    * only single-row class totals cross as broadcasts. The score is
    * the raw IEEE quotient of bit-identical operands (no final round —
    * t10's rounding-tie lesson); the prediction thresholds that same
    * quotient, so it can never disagree with the score.
    */
  def t34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    nbQualityScores(T(s, dir, "documents")
      .select($"doc_id",
        when($"source".isin(RefSources: _*), 1).otherwise(0).as("is_ref"),
        $"text"))
  }

  /** t34's Naive-Bayes engine over any (doc_id, is_ref, text) frame —
    * CurateCorpus's learned-quality gate trains it on (corpus=0 ∪
    * reference=1) and keeps the corpus docs predicted 1. A doc_id may
    * legitimately appear once per class (grouping is by (doc_id,
    * is_ref)); token statistics are class-level and id-independent.
    */
  def nbQualityScores(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs
      .select($"doc_id", $"is_ref", explode(split($"text", " ")).as("tok"))
    val counts = toks.groupBy($"tok").agg(
      count(lit(1)).as("cnt"),
      count(when($"is_ref" === 1, 1)).as("pc"))
    val totals = toks.agg(
      count(when($"is_ref" === 1, 1)).as("ptot"),
      count(when($"is_ref" === 0, 1)).as("ntot"))
    val vocab = counts.orderBy($"cnt".desc, $"tok".asc).limit(VocabSize)
      .crossJoin(broadcast(totals))
      .select($"tok", expr(
        """CAST(round(log10(
          |  ((CAST(pc AS DOUBLE) + 0.5) / (CAST(ptot AS DOUBLE) + 0.5)) /
          |  ((CAST(cnt - pc AS DOUBLE) + 0.5) / (CAST(ntot AS DOUBLE) + 0.5))), 6)
          | AS DECIMAL(18,6))""".stripMargin).as("lo"))
    val scoreExpr =
      "CAST(CAST(sum(lo) AS DECIMAL(38,6)) AS DOUBLE) / CAST(count(1) AS DOUBLE)"
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .select($"doc_id", $"is_ref", coalesce($"lo", expr(
        """CAST(round(log10(
          |  (0.5e0 / (CAST(ptot AS DOUBLE) + 0.5)) /
          |  (0.5e0 / (CAST(ntot AS DOUBLE) + 0.5))), 6) AS DECIMAL(18,6))""".stripMargin))
        .as("lo"))
      .groupBy($"doc_id", $"is_ref")
      .agg(count(lit(1)).as("n_toks"),
        expr(scoreExpr).as("score"),
        expr(s"CAST(CASE WHEN $scoreExpr > 0.0e0 THEN 1 ELSE 0 END AS INT)")
          .as("pred"))
      .orderBy($"doc_id")
  }

  /** t35: TOKENIZER FERTILITY BY SOURCE — subword tokens produced per
    * whitespace word (t06's BPE-ish regex over t03's word count),
    * rolled up per source: the metric that prices a source's
    * tokenization cost before training (high-fertility sources — code,
    * numbers, non-Latin text — consume disproportionate sequence
    * budget for the same word count, so t11/t17 mixture weights and
    * t12 packing budgets read this first). Fertility is the raw IEEE
    * quotient of the two BIGINT sums — bit-equal across engines, no
    * rounding tie possible.
    *
    * Scale shape: per-row codegen regex + split, ONE partial agg on
    * the bounded source dim (map-side combine absorbs the corpus), no
    * joins anywhere.
    */
  def t35(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "documents")
      .select($"source",
        expr(s"size(regexp_extract_all(text, '$bpePattern', 0))")
          .cast("long").as("nb"),
        size(split($"text", " ")).cast("long").as("nw"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"nb").as("n_bpe_tokens"),
        sum($"nw").as("n_words"),
        (sum($"nb").cast("double") / sum($"nw").cast("double"))
          .as("fertility"))
      .orderBy($"source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t01_lang_id" -> (t01 _),
    "t02_quality_score" -> (t02 _),
    "t03_token_stats" -> (t03 _),
    "t04_fingerprint" -> (t04 _),
    "t05_rolling_hash" -> (t05 _),
    "t06_bpe_tokens" -> (t06 _),
    "t07_stratified_sample" -> (t07 _),
    "t08_pii_scrub" -> (t08 _),
    "t09_repetition" -> (t09 _),
    "t10_unigram_logprob" -> (t10 _),
    "t11_source_mix" -> (t11 _),
    "t12_seq_pack" -> (t12 _),
    "t13_line_dedup" -> (t13 _),
    "t14_tfidf" -> (t14 _),
    "t15_gopher_rules" -> (t15 _),
    "t16_hash_split" -> (t16 _),
    "t17_temperature_mix" -> (t17 _),
    "t18_heavy_hitters" -> (t18 _),
    "t19_bigram_logprob" -> (t19 _),
    "t20_code_detect" -> (t20 _),
    "t21_readability" -> (t21 _),
    "t22_boilerplate_trim" -> (t22 _),
    "t23_word_entropy" -> (t23 _),
    "t24_langid_eval" -> (t24 _),
    "t25_source_quality" -> (t25 _),
    "t26_vocab_coverage" -> (t26 _),
    "t27_domain_divergence" -> (t27 _),
    "t28_length_outliers" -> (t28 _),
    "t29_ngram_novelty" -> (t29 _),
    "t30_zipf_slope" -> (t30 _),
    "t31_rag_chunk" -> (t31 _),
    "t32_bm25" -> (t32 _),
    "t33_dup_gram_fraction" -> (t33 _),
    "t34_quality_classifier" -> (t34 _),
    "t35_token_fertility" -> (t35 _)
  )
}
