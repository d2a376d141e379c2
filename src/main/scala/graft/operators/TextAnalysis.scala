package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators over the `documents` table.
  *
  * The reference's entire query surface is tokenize→shuffle→aggregate
  * (word count: reference `mrapps/wc.go:21-44`; inverted index:
  * `mrapps/indexer.go:20-39`). Here those semantics are declared with
  * built-in codegen'd functions — `split`/`explode`/`groupBy` — so
  * Catalyst plans a partial (map-side) aggregation before the exchange,
  * which the reference lacks (SURVEY.md §2.1: no combiner). At 100 TB
  * the partial agg collapses the shuffle to ~|vocabulary| rows per
  * partition, which is what makes word-count-shaped queries scale.
  */
object TextAnalysis {

  /** Token = maximal run of Unicode letters; mirrors the reference's
    * `unicode.IsLetter` tokenizer (`mrapps/wc.go:25-27`). `\p{L}` means
    * the same class in Java regex (Spark) and RE2 (DuckDB oracle).
    */
  val TokenSplitRe = "[^\\p{L}]+"

  def tokens(text: Column): Column =
    filter(split(text, TokenSplitRe), t => length(t) > 0)

  /** Word count (reference app `wc`, `mrapps/wc.go`). */
  def wordCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** Inverted index (reference app `indexer`, `mrapps/indexer.go`):
    * per word, the count of containing docs and the sorted doc list,
    * formatted `"N doc1,doc2,..."` exactly as `mrapps/indexer.go:38`.
    * Map-side distinct (the reference's per-doc set,
    * `mrapps/indexer.go:21-26`) becomes `collect_set`; value order is
    * canonicalized with `sort_array` because shuffle arrival order is
    * nondeterministic (SURVEY.md §5 determinism contract).
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id").cast("string").as("doc"),
              explode(array_distinct(tokens(col("text")))).as("word"))
      .groupBy("word")
      .agg(concat(count(lit(1)).cast("string"), lit(" "),
                  concat_ws(",", sort_array(collect_set(col("doc")))))
             .as("postings"))
      .orderBy("word")

  /** Per-document token statistics: token count (whitespace-ish),
    * distinct tokens, mean token length. Plumbing for quality filters.
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"), col("n_chars"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        round(aggregate(col("toks"), lit(0L),
                (acc, t) => acc + length(t)).cast("double")
              / greatest(size(col("toks")), lit(1)), 4)
          .as("avg_token_len"),
        col("n_chars"))
      .orderBy("doc_id")

  /** GPT-2-style pretokenizer pattern, restricted to the RE2 ∩ Java
    * dialect (no lookahead, so the contraction/trailing-space rules are
    * simplified): a token is an optional leading space plus a letter
    * run, digit run, or symbol run — or a whitespace run. This is the
    * segmentation BPE operates on; counting its matches approximates
    * "LLM tokens" far better than whitespace words on code/punctuation-
    * heavy text.
    */
  /** Explicit whitespace class instead of `\s`: Java's `\s` includes
    * U+000B (vertical tab) but RE2's does not, so a `\s` written on
    * both sides would diverge on a document containing one. The
    * explicit class means the same five-plus-one characters to both
    * engines.
    */
  val WsChars = "\\t\\n\\x0B\\f\\r "   // class body, no brackets
  val WsClass = s"[$WsChars]"

  val BpeTokenRe =
    s" ?\\p{L}+| ?\\p{N}+| ?[^$WsChars\\p{L}\\p{N}]+|$WsClass+"

  /** Token counts under three tokenizers per document: whitespace
    * words, letter runs (the reference's `unicode.IsLetter` contract),
    * and the BPE-ish pretokenizer above — the cheap LLM-token budget
    * estimator a pipeline uses for packing/cost accounting. Map-only.
    */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(filter(split(col("text"), s"$WsClass+"), t => length(t) > 0))
          .cast("long").as("n_ws_tokens"),
        size(tokens(col("text"))).cast("long").as("n_letter_tokens"),
        regexp_count(col("text"), lit(BpeTokenRe)).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Heuristic quality score in [0,1]: mix of length band, lexical
    * diversity (type/token ratio) and stopword presence — the standard
    * cheap pre-filter in LLM-data pipelines. Deterministic closed-form
    * so the DuckDB oracle can replicate it exactly.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    // materialize tokens once — the score expressions reference them
    // repeatedly and Catalyst won't CSE the regex split across them
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val (lenScore, diversity, stopScore) = qualityParts(col("toks"))
    docs.select(
        col("doc_id"),
        round(lenScore, 4).as("len_score"),
        round(diversity, 4).as("diversity"),
        round(stopScore, 4).as("stop_score"),
        quality(col("toks")).as("quality"))
      .orderBy("doc_id")
  }

  /** Winsorize percentiles: clip below the per-language p05, above p95. */
  val WinsorLo = 0.05
  val WinsorHi = 0.95

  /** `quality_winsorize`: per-language winsorized quality — each
    * document's score clipped to its language's [p05, p95] band. The
    * robust normalization step before thresholding or mixing on
    * quality: a handful of pathological outliers (mojibake, boilerplate
    * walls) otherwise drag a plain z-score or min-max scale, and
    * per-language bands keep one language's score distribution from
    * gating another's (stopword-ratio scales differ by language).
    *
    * Exactness: both engines interpolate the same R-7 linear quantile
    * (Spark `percentile` == DuckDB `quantile_cont`) over the same
    * 4dp-rounded scores, so the bounds agree bit-for-bit; bounds and
    * clipped values round to 6dp. Scale shape: ONE tokenize pass
    * scores every doc; the exact per-language percentile is a
    * per-group sort confined to the handful of language groups — at
    * 100 TB you swap in the GK sketch bounds ([[Events.approxQuantiles]]'s
    * kernel) and keep the same clip join; the bands are a
    * languages-sized broadcast either way.
    */
  def qualityWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val q = qualityScore(spark, dir).select(col("doc_id"), col("quality"))
      .join(Tables.documents(spark, dir).select("doc_id", "lang"), "doc_id")
    val bands = q.groupBy("lang").agg(
      round(expr(s"percentile(quality, $WinsorLo)"), 6).as("q_lo"),
      round(expr(s"percentile(quality, $WinsorHi)"), 6).as("q_hi"))
    q.join(broadcast(bands), "lang")
      .select(col("doc_id"), col("lang"), col("quality"),
        col("q_lo"), col("q_hi"),
        round(least(greatest(col("quality"), col("q_lo")), col("q_hi")), 6)
          .as("q_wins"))
      .orderBy("doc_id")
  }

  /** Sentence segmentation: split each document on terminal-punctuation
    * runs, trim, drop empties, and emit per-sentence rows with a
    * 1-based index, length, token count and content fingerprint — the
    * chunk-for-training primitive upstream of sequence packing. Pure
    * projection + explode: rides the scan at any scale, no shuffle
    * before the output sort. Indices count the SURVIVING sentences
    * (post-trim/filter), mirrored exactly in the oracle's
    * filter-then-enumerate order.
    */
  def sentences(spark: SparkSession, dir: String): DataFrame = {
    val sents = filter(
      transform(split(col("text"), "[.!?]+"), s => trim(s)),
      s => length(s) > 0)
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(sents).as(Seq("pos", "sent")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("sent_idx"),
        length(col("sent")).cast("long").as("n_chars_sent"),
        size(tokens(col("sent"))).cast("long").as("n_tokens"),
        md5(col("sent")).as("sent_md5"))
      .orderBy("doc_id", "sent_idx")
  }

  /** Decile binning of the quality score — curriculum/mix bucketing
    * without a global sort: `ntile(10)` would funnel the corpus
    * through a single-partition window. Instead: quantize scores to
    * 1e-4 integers, aggregate per-value counts (combiner-friendly,
    * ≤ 10001 rows at ANY corpus size), take type-1 (inverse-CDF)
    * decile boundaries off the cumulative counts with PURE INTEGER
    * ranks `⌈k·n/10⌉ = (k·n+9) div 10`, and broadcast the 9 boundary
    * integers back for a map-side bin assignment
    * (`bin = |{boundary ≤ score}|`).
    *
    * Type-1 quantiles, not interpolated (R-7): an interpolated
    * boundary is a double whose last ulp depends on the engine's
    * `(1−g)·a + g·b` vs `a + (b−a)·g` arithmetic — measured flipping
    * a bin at the 1e-4 rounding edge against DuckDB. Selection from
    * the observed values with integer ranks has no arithmetic to
    * disagree on. The windows run over the tiny count frame (a
    * single-partition sort of ≤ 10001 rows), never the corpus.
    */
  def qualityBins(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // cached: q feeds the decile-boundary build AND the final bin
    // assignment — uncached, the corpus would tokenize + score TWICE
    val q = graft.operators.Kernels.cacheTracked(docs.select(col("doc_id"),
        quality(col("toks")).as("quality"))
      .withColumn("qi", round(col("quality") * 10000, 0).cast("long")))
    // cumulative counts over the qi grid (≤ 10001 rows) as a TWO-LEVEL
    // distributed prefix sum, so no unpartitioned window ever plans:
    // within-bucket running sums are windows PARTITIONED by bucket
    // (qi div 256 → ≤ 41 buckets), the before-bucket offsets come from
    // a bounded triangular self-join of the bucket totals, and the
    // grand total is a 1-row broadcast
    val cnt = q.groupBy("qi").agg(count(lit(1)).as("c"))
      .withColumn("bkt", expr("qi div 256"))
    val bt = cnt.groupBy("bkt").agg(sum("c").as("bc"))
    val pre = bt.as("x")
      .join(bt.as("y"), col("y.bkt") < col("x.bkt"), "left")
      .groupBy(col("x.bkt").as("bkt"))
      .agg(coalesce(sum(col("y.bc")), lit(0L)).as("pre"))
    val total = q.agg(count(lit(1)).as("n"))
    val cum = cnt
      .withColumn("wcum", sum("c").over(
        Window.partitionBy("bkt").orderBy("qi")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(pre), "bkt")
      .withColumn("cum", col("pre") + col("wcum"))
      .crossJoin(broadcast(total))
    val bounds = cum
      .select(col("qi"), col("cum"), explode(sequence(lit(1L), lit(9L))).as("k"), col("n"))
      .filter(col("cum") >= expr("(k * n + 9) div 10"))
      .groupBy("k").agg(min("qi").as("b"))
      .agg(sort_array(collect_list("b")).as("bs"))
    q.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("quality"),
        size(filter(col("bs"), b => b <= col("qi"))).cast("long").as("bin"))
      .orderBy("doc_id")
  }

  /** The three component scores over a materialized token array —
    * shared by [[quality]], [[qualityScore]]'s component columns and the
    * classifier features, so batch and stream compute bit-identical
    * values.
    */
  def qualityParts(toks: Column): (Column, Column, Column) = {
    val nTok = size(toks).cast("double")
    val diversity = size(array_distinct(toks)).cast("double") / greatest(nTok, lit(1.0))
    val lenScore = least(nTok / lit(50.0), lit(1.0))
    val stopHits = size(filter(toks, t => t.isin(StopwordsEn: _*))).cast("double")
    val stopScore = least(stopHits / greatest(nTok, lit(1.0)) * lit(5.0), lit(1.0))
    (lenScore, diversity, stopScore)
  }

  /** The closed-form quality score in [0,1] over a materialized token
    * array: the mean of [[qualityParts]] rounded to 4dp — the one
    * expression every quality gate, batch or stream, computes.
    */
  def quality(toks: Column): Column = {
    val (lenScore, diversity, stopScore) = qualityParts(toks)
    round((lenScore + diversity + stopScore) / lit(3.0), 4)
  }

  val StopwordsEn: Seq[String] =
    Seq("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")

  /** N-gram-frequency language ID. Scores each candidate language by
    * occurrences of its marker function words, picks the argmax
    * (deterministic tie-break: language list order). Markers chosen from
    * standard closed-class words per language.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a"),
    "de" -> Seq("der", "und", "die", "das"),
    "fr" -> Seq("le", "et", "la", "les"),
    "es" -> Seq("el", "los", "las", "una"),
    "zh" -> Seq("de", "shi", "bu", "le"))

  def languageId(spark: SparkSession, dir: String): DataFrame = {
    // materialize tokens once (see qualityScore)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), tokens(lower(col("text"))).as("toks"))
    val toks = col("toks")
    val scoreCols = LangMarkers.map { case (lang, words) =>
      size(filter(toks, t => t.isin(words: _*))).as(s"score_$lang")
    }
    val scored = docs.select(
      (Seq(col("doc_id"), col("lang").as("lang_true")) ++ scoreCols): _*)
    // argmax with first-wins tie-break, expressed as a CASE chain with the
    // exact same shape as the oracle SQL, so results match bit-for-bit:
    // lang L fires iff score_L > 0 and score_L >= every other score.
    val langs = LangMarkers.map(_._1)
    val best = langs.foldRight(lit("und")) { (lang, elseCol) =>
      val isMax = langs.filter(_ != lang)
        .map(o => col(s"score_$lang") >= col(s"score_$o"))
        .reduce(_ && _)
      when(col(s"score_$lang") > 0 && isMax, lit(lang)).otherwise(elseCol)
    }
    scored.withColumn("lang_pred", best)
      .select(col("doc_id"), col("lang_true"), col("lang_pred"))
      .orderBy("doc_id")
  }

  /** Document fingerprint: md5 over whitespace-normalized lowercase text.
    * The canonical exact-dedup key; md5 is available and identical in
    * Spark and DuckDB so the oracle can verify it.
    */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(normalizedText(col("text"))).as("fp"))
      .orderBy("doc_id")

  val WinnowK = 8 // k-gram length (chars)
  val WinnowW = 4 // winnowing window (hashes)

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, MOSS-style):
    * hash every k-char gram of the normalized text, slide a w-hash
    * window, keep the minimum of each full window, emit the distinct
    * set per document. Local-similarity-preserving: near-dup documents
    * share most fingerprints, so a join on `fp` is the candidate
    * generator for plagiarism-style matching.
    *
    * Runs as a map-only typed kernel (no shuffle; ~len md5s per doc).
    * Hashes are the first 8 hex chars of md5 so the DuckDB oracle
    * (window-min formulation) reproduces them exactly. Docs shorter
    * than w positions contribute the min over all their hashes.
    */
  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = WinnowK
    val w = WinnowW
    Kernels.fanOut(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))) // single-file scan -> fan out the kernel
      .as[(Long, String)]
      .mapPartitions { it =>
        // One md5 per character position is the irreducible cost (the
        // oracle's hash family); everything else is kept allocation-free:
        // the text is UTF-8-encoded ONCE and digested in place (chars ==
        // bytes on the ASCII fast path), hex comes from a lookup table
        // (not "%02x".format), and the w-window min is an index loop,
        // not a per-window slice.
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = "0123456789abcdef".toCharArray
        val ws = java.util.regex.Pattern.compile("\\s+")
        it.flatMap { case (id, text) =>
          val t = ws.matcher(text.toLowerCase(java.util.Locale.ROOT))
            .replaceAll(" ").trim
          val bytes = t.getBytes("UTF-8")
          val ascii = bytes.length == t.length
          val npos = math.max(t.length - (k - 1), 1)
          val hs = new Array[String](npos)
          var i = 0
          while (i < npos) {
            val end = math.min(i + k, t.length)
            val d =
              if (ascii) { md.update(bytes, i, end - i); md.digest() }
              else md.digest(t.substring(i, end).getBytes("UTF-8"))
            val cs = new Array[Char](8)
            var j = 0
            while (j < 4) {
              cs(2 * j) = hex((d(j) >> 4) & 0xf)
              cs(2 * j + 1) = hex(d(j) & 0xf)
              j += 1
            }
            hs(i) = new String(cs)
            i += 1
          }
          val fps = new java.util.TreeSet[String]()
          if (npos < w) {
            var m = hs(0); var x = 1
            while (x < npos) { if (hs(x) < m) m = hs(x); x += 1 }
            fps.add(m)
          } else {
            var x = w - 1
            while (x < npos) {
              var m = hs(x - w + 1); var y = x - w + 2
              while (y <= x) { if (hs(y) < m) m = hs(y); y += 1 }
              fps.add(m)
              x += 1
            }
          }
          import scala.jdk.CollectionConverters._
          fps.iterator().asScala.map(fp => (id, fp))
        }
      }
      .toDF("doc_id", "fp")
      .orderBy("doc_id", "fp")
  }

  val ChunkSize = 64
  val ChunkStride = 48 // 16-token overlap between consecutive chunks

  /** `doc_chunks`: context-window chunking — each document split into
    * [[ChunkSize]]-token windows every [[ChunkStride]] tokens (16-token
    * overlap so no boundary context is lost), the standard prep step
    * for fixed-context training and embedding indexing. Map-only: the
    * chunk ids ride an exploded `sequence` and each chunk is a
    * `slice` of the per-row token array — the corpus never shuffles
    * (output order aside) and output size is Σ n_chunks, ~n_tokens/
    * stride rows. A doc's final chunk is the short tail; token-less
    * docs produce no chunks.
    */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val nChunks = lit(1L) +
      ((greatest(col("n") - ChunkSize, lit(0L)) + (ChunkStride - 1)) / ChunkStride).cast("long")
    val start = (col("chunk_id") - 1) * ChunkStride + 1
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(1L), nChunks)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        least(lit(ChunkSize.toLong), col("n") - start + 1).as("n_chunk_tokens"),
        array_join(slice(col("toks"), start, least(lit(ChunkSize.toLong), col("n") - start + 1)), " ")
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }
}
