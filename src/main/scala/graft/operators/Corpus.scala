package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-hygiene operators for LLM training-data pipelines (north
  * star; not reference-derived — SURVEY.md §2.5 notes the reference has
  * none): benchmark decontamination, intra-document repetition
  * statistics (Gopher-style quality rules), TF-IDF salient terms,
  * PII scrubbing, and per-source composition reporting.
  *
  * Scale posture: everything here is either map-only, a broadcast join
  * against a benchmark-sized set, or a vocabulary-sized aggregate —
  * nothing shuffles the corpus more than once.
  */
object Corpus {

  /** First hex byte of md5("bench:"+doc_id) below this ⇒ the doc plays
    * the role of the held-out benchmark/eval split (~6%). String
    * comparison on the fixed-width hex prefix equals value comparison.
    */
  val BenchSplitThreshold = "10"
  val ContamGramN = 5

  /** First hex byte of md5(salt + ":" + doc_id) — the deterministic
    * doc-level split/sample primitive, shared by the bench split and
    * the pipeline sample so their salts and prefix width cannot drift
    * apart (the SQL oracles interpolate the same construction).
    */
  private def docHexPrefix(salt: String) =
    substring(md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 2)

  /** Distinct word 5-gram shingles per doc, as a typed map-only kernel
    * over the GIVEN document slice (same tokenizer and short-doc
    * fallback as Dedup's 3-gram kernel; the Column formulation measured
    * 10-200x slower at sf0.1). Locale.ROOT lowercasing: the JVM default
    * locale (e.g. tr-TR dotless-ı) would diverge from the oracle's
    * locale-independent `lower()`.
    */
  private def contamShingles(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Kernels.fanOut(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val re = java.util.regex.Pattern.compile("[^\\p{L}]+")
        it.map { case (id, text) =>
          val toks = re.split(text.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
          val sh =
            if (toks.length >= ContamGramN)
              toks.sliding(ContamGramN).map(_.mkString(" ")).toArray.distinct
            else if (toks.nonEmpty) Array(toks.mkString(" "))
            else Array.empty[String]
          (id, sh)
        }
      }
      .toDF("doc_id", "sh")
  }

  /** Benchmark decontamination: flag corpus documents that share any
    * word 5-gram with the held-out benchmark split — the standard
    * "did eval data leak into training data" check (n-gram-overlap
    * decontamination as practiced since GPT-2/GPT-3's 8-gram variant).
    *
    * 100 TB shape: the benchmark side is eval-benchmark-sized (tiny by
    * construction), so its distinct grams BROADCAST — the corpus pays
    * one shingling pass plus a map-side semi-join and a combiner-
    * friendly per-doc count; no corpus-sized shuffle, no pair join.
    * The bench/corpus split rides the SCAN (the predicate depends only
    * on doc_id), so each document is tokenized and shingled exactly
    * once on exactly one side — splitting AFTER a shared kernel would
    * re-run the whole tokenize+shingle pass per branch. Output: one
    * row per contaminated document with its gram count and hit count.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val isBench = docHexPrefix("bench")
    val docs = Tables.documents(spark, dir)
    val benchGrams = contamShingles(docs.filter(isBench < BenchSplitThreshold))
      .select(explode(col("sh")).as("g"))
      .distinct()
    contamShingles(docs.filter(isBench >= BenchSplitThreshold))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"),
        explode(col("sh")).as("g"))
      .join(broadcast(benchGrams), "g")
      .groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_hit")) // grams are distinct per doc
      .select(col("doc_id"), col("n_grams"), col("n_hit"))
      .orderBy("doc_id")
  }

  val RepGramN = 5

  /** Intra-document repetition statistics (the Gopher/MassiveText
    * repetition-removal family, adapted to the newline-free corpus):
    * the fraction of the document's bigrams taken by its single most
    * frequent bigram, and the fraction of duplicate 5-grams. High
    * values mark boilerplate/degenerate documents that quality filters
    * drop before training. Map-only typed kernel — zero shuffle.
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Kernels.fanOut(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val re = java.util.regex.Pattern.compile("[^\\p{L}]+")
        it.map { case (id, text) =>
          val toks = re.split(text).filter(_.nonEmpty)
          val n = toks.length
          val top2 =
            if (n >= 2) {
              val counts = scala.collection.mutable.HashMap.empty[String, Int]
              var i = 0
              while (i < n - 1) {
                val g = toks(i) + " " + toks(i + 1)
                counts.update(g, counts.getOrElse(g, 0) + 1)
                i += 1
              }
              counts.valuesIterator.max.toDouble / (n - 1)
            } else 0.0
          val dup5 =
            if (n >= RepGramN) {
              val total = n - RepGramN + 1
              val distinct = toks.sliding(RepGramN).map(_.mkString(" ")).toSet.size
              1.0 - distinct.toDouble / total
            } else 0.0
          (id, n.toLong, top2, dup5)
        }
      }
      .toDF("doc_id", "n_tokens", "top2", "dup5")
      .select(col("doc_id"), col("n_tokens"),
        round(col("top2"), 4).as("top_bigram_frac"),
        round(col("dup5"), 4).as("dup_5gram_frac"))
      .orderBy("doc_id")
  }

  val TfIdfTopK = 3

  /** Top-[[TfIdfTopK]] salient terms per document by TF-IDF
    * (score = tf · ln(N/df)) — the classic per-document keyword
    * extractor, useful for topic bucketing and mix diagnostics.
    *
    * 100 TB shape: tf is one combiner-friendly shuffle on (doc,
    * term); df comes from a SECOND map-only tokenize pass — a
    * map-side `array_distinct` (one row per (doc, term), df's exact
    * support set, with NO posting shuffle) folded by a partial-
    * aggregated `groupBy(term).count()`, the [[Retrieval.bm25Search]]
    * df shape — joined back onto tf as a vocab-sized table
    * (auto-broadcast when vocab fits, AQE-skew-splittable when not).
    * The old formulation was a `count(*) OVER (PARTITION BY term)`
    * window over the tf frame — WindowExec buffers each term
    * partition in ONE task, so a stopword term funneled its entire
    * posting list into a single task at scale, and AQE can split a
    * skewed join but never a skewed window. The extra tokenize scan
    * is the same trade bm25 makes (caching the corpus-sized tf frame
    * to save it would pin corpus-scale memory), and the count reduces
    * each map task's contribution to ≤ |vocab| rows BEFORE its
    * exchange. N is a 1-row broadcast; the final per-doc top-k is a
    * window over the tf frame re-shuffled by doc (per-partition input
    * ≤ one doc's distinct terms — bounded by doc length, never
    * corpus-shaped). Ranking uses the ROUNDED score so the order (and
    * the oracle's) never hinges on sub-1e-6 libm differences.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfT = docs
      .select(explode(array_distinct(TextAnalysis.tokens(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(dfT, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round(col("tf").cast("double")
          * log(col("n_docs").cast("double") / col("df").cast("double")), 6)
          .as("score"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TfIdfTopK)
      .select(col("doc_id"), col("rk"), col("term"), col("score"))
      .orderBy("doc_id", "rk")
  }

  // PII patterns: the RE2 ∩ java.util.regex common dialect (no
  // backreferences, ASCII classes), so Spark and the DuckDB oracle
  // match/replace identically.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val LongNumRe = "\\d{6,}"

  /** PII scrubbing: redact emails, IPv4 addresses, and long digit runs
    * (account/phone-number shaped), emitting per-doc REDACTION counts
    * and the fingerprint of the scrubbed text. Replacements apply in a
    * fixed order (email → ip → number), and each pattern is counted on
    * the text AFTER the previous redactions — so every count equals the
    * number of substitutions actually made (a digit run inside an email
    * address is redacted as part of the email, not double-counted as a
    * number). Map-only — the scrub rides the scan projection at any
    * scale.
    *
    * The synthetic corpus contains no PII (counts are all zero and the
    * fingerprint equals the raw-text md5) — the oracle still checks the
    * full plumbing, and `CorpusSpec` drives the same kernel over
    * synthetic PII-bearing strings to pin the redaction behavior.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("s1", regexp_replace(col("text"), EmailRe, "<EMAIL>"))
      .withColumn("s2", regexp_replace(col("s1"), Ipv4Re, "<IP>"))
      .select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_email"),
        regexp_count(col("s1"), lit(Ipv4Re)).cast("long").as("n_ip"),
        regexp_count(col("s2"), lit(LongNumRe)).cast("long").as("n_num"),
        md5(regexp_replace(col("s2"), LongNumRe, "<NUM>")).as("scrubbed_fp"))
      .orderBy("doc_id")

  /** The redaction chain shared by [[piiScrub]] and its spec. */
  def scrubbed(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      LongNumRe, "<NUM>")

  val PmiMinCount = 5
  val PmiTopK = 20

  /** Corpus-wide collocations: top-[[PmiTopK]] adjacent-token bigrams
    * by pointwise mutual information, `ln(P(ab) / (P(a)·P(b)))`, over
    * lowercased letter-run tokens — the classic phrase detector (PMI
    * as in word2vec's phrase pass), and a mix-diagnostics probe for
    * boilerplate n-grams.
    *
    * 100 TB shape: one typed kernel emits each token paired with its
    * successor; unigram and bigram counts are both combiner-friendly
    * aggregates of that stream (the kernel runs once per branch — at
    * scale that is two corpus scans, each all-map until a vocab-sized
    * shuffle; a cached single scan would pin a corpus-sized exploded
    * frame, strictly worse). The COUNT frames are vocabulary-sized and
    * bounded, so they cache (tracked, retired by the Bench/Verify
    * hygiene) and feed both their rows and their 1-row broadcast
    * totals without recomputing — a `sum() over ()` window would
    * instead serialize a web-scale vocab through one task (the
    * single-partition-window shape PlanAuditSpec rejects elsewhere).
    * The PMI join keys on single words. Ranking uses the ROUNDED score
    * (then the bigram text) so the top-k cut never hinges on sub-1e-6
    * libm differences between engines.
    */
  def bigramPmi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // (term, successor-or-null): each token appears exactly once as
    // `term`, so unigram counts come from the same stream as bigrams
    val pairs = Kernels.fanOut(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val re = java.util.regex.Pattern.compile("[^\\p{L}]+")
        it.flatMap { case (_, text) =>
          val toks = re.split(text.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
          toks.indices.iterator.map { i =>
            (toks(i), if (i + 1 < toks.length) toks(i + 1) else null)
          }
        }
      }
      .toDF("term", "next")
    val unigCounts = Kernels.cacheTracked(
      pairs.groupBy("term").agg(count(lit(1)).as("u")))
    // the total-bigram denominator sums BEFORE the min-count filter so
    // probabilities cover ALL bigrams, not just frequent ones
    val bigCounts = Kernels.cacheTracked(
      pairs.filter(col("next").isNotNull)
        .groupBy(col("term").as("w1"), col("next").as("w2"))
        .agg(count(lit(1)).as("b")))
    val unig = unigCounts.crossJoin(broadcast(unigCounts.agg(sum("u").as("t"))))
    val big = bigCounts.filter(col("b") >= PmiMinCount)
      .crossJoin(broadcast(bigCounts.agg(sum("b").as("tb"))))
    big
      .join(unig.select(col("term").as("w1"), col("u").as("ua"), col("t")), "w1")
      .join(unig.select(col("term").as("w2"), col("u").as("ub")), "w2")
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"), col("b").as("n"),
        round(log((col("b").cast("double") / col("tb"))
          / ((col("ua").cast("double") / col("t")) * (col("ub").cast("double") / col("t")))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(PmiTopK)
  }

  /** Log₂-bucketed document-length histogram: bucket `⌊log₂(n+1)⌋`
    * holds docs with n tokens, n+1 ∈ [2^b, 2^(b+1)). The bucket id is
    * computed with INTEGER arithmetic — `length(bin(n+1)) - 1`, the
    * bit-length of n+1 — never floating log₂, whose libm rounding at
    * exact powers of two is engine-dependent. Map-only kernel into a
    * ~60-row aggregate: the cheapest possible corpus-shape probe.
    */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .select(col("n_tokens"),
        (length(bin(col("n_tokens") + 1)) - 1).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .orderBy("bucket")

  val VocabTopK = 50

  /** Vocabulary head coverage: the top-[[VocabTopK]] terms with each
    * term's corpus share and the CUMULATIVE share — the
    * tokenizer-vocab-prep diagnostic ("how much of the corpus do the
    * top K types cover"). The global rank cut runs as `orderBy.limit`
    * (TakeOrderedAndProject: per-partition heaps, never a
    * single-partition sort of the vocab); the cumulative window then
    * touches only the K retained rows, and the total is a 1-row
    * broadcast. Ties break on the term text, so the cut and the
    * cumulative order are engine-exact.
    */
  def vocabTop(spark: SparkSession, dir: String): DataFrame = {
    val counts = Kernels.cacheTracked(
      Tables.documents(spark, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt")))
    val total = counts.agg(sum("cnt").as("total"))
    val top = counts.orderBy(col("cnt").desc, col("term")).limit(VocabTopK)
    // rank + running share WITHOUT a global window: the K survivors
    // collapse to ONE sorted array whose position is the rank, and the
    // cumulative count is a slice aggregate — O(K²) but K-bounded
    // (K = VocabTopK), so no single-partition WindowExec ever plans
    top
      .agg(sort_array(collect_list(struct(
        (-col("cnt")).as("neg"), col("term")))).as("xs"))
      .crossJoin(broadcast(total))
      .select(col("total"), col("xs"), posexplode(col("xs")).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("rk"),
        col("x.term").as("term"), (-col("x.neg")).as("cnt"),
        round((-col("x.neg")).cast("double") / col("total"), 6).as("share"),
        round(aggregate(slice(col("xs"), lit(1), col("pos") + 1), lit(0L),
          (acc, e) => acc - e.getField("neg")).cast("double") / col("total"), 6)
          .as("cum_share"))
      .orderBy("rk")
  }

  /** `doc_surprisal`: per-document unigram cross-entropy under the
    * corpus's own unigram LM — the language-model quality signal of
    * the CCNet/KenLM filtering family, self-contained (the corpus is
    * its own LM; production swaps in a reference-corpus model the same
    * way). High cross-entropy = rare-token-heavy documents (gibberish,
    * OCR noise, wrong-language fragments) — the standard
    * perplexity-filter
    * axis next to the heuristic [[TextAnalysis.qualityScore]].
    *
    * Engine determinism: each token's surprisal −ln(cnt/total) is
    * rounded to 6dp and summed as DECIMAL(18,6) — EXACT addition, so
    * the per-doc mean is independent of partitioning and engine (a
    * double sum would differ in the last bits by summation order; the
    * PMI/log conventions here match [[bigramPmi]]).
    *
    * 100 TB shape: one tokenize pass (cached, feeding both the vocab
    * count and the scoring join), one combiner-friendly vocab count
    * shuffle, an equi-join occurrence→count on the token (AQE
    * broadcasts when the vocab is small; shuffles otherwise — never a
    * corpus×vocab product), and a combiner-friendly per-doc decimal
    * sum. The 1-row total is an explicit broadcast.
    */
  def docSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val occ = Kernels.cacheTracked(
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(TextAnalysis.tokens(lower(col("text")))).as("tok")))
    // vocab-sized pin: counts feeds the join AND the total — uncached,
    // each runs its own aggregation pass over the token table
    val counts = Kernels.cacheTracked(
      occ.groupBy("tok").agg(count(lit(1)).as("cnt")))
    val total = counts.agg(sum("cnt").as("total"))
    occ.join(counts, "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(-log(col("cnt").cast("double") / col("total")), 6)
          .cast("decimal(18,6)").as("surp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("surp").as("ssum"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("ssum").cast("double") / col("n_tokens"), 4).as("cross_entropy"))
      .orderBy("doc_id")
  }

  /** `doc_perplexity`: BIGRAM-LM cross-entropy per document — the
    * KenLM-shaped perplexity-filter axis, one order up from
    * [[docSurprisal]]'s unigram scorer (a doc of common words in
    * UNCOMMON order scores high here and low there; quality pipelines
    * filter on exactly that difference). Laplace (+1) smoothing over
    * the next-word event space: p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V),
    * V = |distinct next-words|. Cross-entropy is emitted rather than
    * exp(CE) perplexity: exp is a libm call whose last-ulp varies
    * across engines, and the filter decision is monotone in CE anyway.
    *
    * Shape: the adjacent-pair stream is built MAP-ONLY (per-doc index
    * transform, no window) and cached once (tracked, retired by the
    * Bench/Verify hygiene) to feed its four readers — bigram counts,
    * context counts, the 1-row vocab size, and the scoring join; both
    * count frames are vocabulary-bounded shuffles and per-pair NLLs
    * round to 6dp into DECIMAL so the per-doc sum is
    * aggregation-order-exact (the [[docSurprisal]] contract).
    */
  def docPerplexityBigram(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Kernels.cacheTracked(
      Tables.documents(spark, dir)
        .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("toks"))
        .select(col("doc_id"),
          explode(when(size(col("toks")) >= 2,
            transform(sequence(lit(1), size(col("toks")) - 1),
              i => struct(element_at(col("toks"), i).as("w1"),
                          element_at(col("toks"), i + 1).as("w2"))))
            .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2")))
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val ctx = pairs.groupBy("w1").agg(count(lit(1)).as("cu"))
    val v = pairs.agg(countDistinct("w2").as("v"))
    pairs
      .join(big, Seq("w1", "w2")).join(ctx, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        round(-log((col("cb") + 1).cast("double") / (col("cu") + col("v"))), 6)
          .cast("decimal(18,6)").as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("nll").as("ssum"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("ssum").cast("double") / col("n_bigrams"), 4).as("cross_entropy"))
      .orderBy("doc_id")
  }

  val BpeTopPairs = 30

  /** `bpe_merge_pairs`: the first BPE merge decision, distributed —
    * corpus-wide frequencies of adjacent CHARACTER pairs within word
    * tokens, every occurrence weighted (the byte-pair-encoding
    * training count before any merge is applied). Tokenizer training
    * over a 100 TB corpus is a pipeline job, and each merge round is
    * exactly this query over the current symbol sequences — the
    * library-side half of vocab induction ([[vocabTop]] being the
    * coverage diagnostic).
    *
    * Shape: map-only pair generation (per-word sliding substr, no
    * self-join), one combiner-friendly count shuffle over a pair
    * vocabulary bounded by alphabet² (tiny), and the top cut as
    * `orderBy.limit` (TakeOrderedAndProject — per-partition heaps,
    * never a global sort). Ties break on the pair text, so the cut is
    * engine-exact.
    */
  def bpeMergePairs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .select(explode(when(length(col("w")) >= 2,
        transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2))))
        .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(BpeTopPairs)

  /** First hex byte below this ⇒ the doc survives the pipeline's
    * training-split sample (~50%).
    */
  val PipeSampleThreshold = "80"
  val TrainQualityMin = 0.5

  /** The pipeline's SURVIVOR stage — everything [[trainingSet]] does
    * before packing: exact dedup → near-dup keep → quality floor →
    * bench split/contamination exclusion → deterministic sample.
    * Extracted so the unified text+media flagship
    * ([[Sampling.fullTrainingSet]]) can pack the same survivors under
    * the shared cross-modal shard/byte scheme. Columns: (doc_id,
    * source, n_tokens, quality).
    */
  private[graft] def trainingSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val isBench = docHexPrefix("bench")
    val surv = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        md5(TextAnalysis.normalizedText(col("text"))).as("fp"))
      .withColumn("rk", row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("rk") === 1)
      .join(Dedup.keepIds(spark, dir), Seq("doc_id"), "left_semi")
    val scored = surv
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tokens"),
        TextAnalysis.quality(col("toks")).as("quality"))
    scored
      .filter(col("quality") >= TrainQualityMin)
      .filter(isBench >= BenchSplitThreshold) // bench split never trains
      .join(decontaminate(spark, dir).select("doc_id"), Seq("doc_id"), "left_anti")
      .filter(docHexPrefix("pipe") < PipeSampleThreshold)
  }

  /** FLAGSHIP COMPOSITION — the whole training-set pipeline as ONE
    * declarative plan: exact dedup (keep first per fingerprint) →
    * NEAR-dup dedup (keep each ngram-Jaccard cluster's representative,
    * [[Dedup.keep]]) → quality floor → benchmark-split and
    * contamination exclusion → deterministic 50% sample → token-budget
    * sequence packing. This is the query a user of the library actually
    * ships; every stage is an operator that also stands alone under its
    * own oracle, and composing them costs no glue — Catalyst fuses the
    * map-side stages (fingerprint, quality, sample predicates ride one
    * scan) between the dedup shuffle, the keep-list semi-join, the
    * broadcast contamination semi-join, and the per-shard packing
    * windows. 100 TB shape: one corpus shuffle on the fingerprint, one
    * on the shard key, plus the near-dup stack's own prefix-filtered
    * index join and component loop (the expensive stage real pipelines
    * pay — exact AND near dedup run before any sampling); everything
    * else is map-side or benchmark-sized.
    *
    * The keep-list side is the near-dup OUTPUT (cluster representatives
    * — corpus-sized only in the no-duplicates worst case, and a plain
    * doc_id list), so the semi-join shuffles ids, never text. Exact
    * dedup stays in front: representatives always survive it (a
    * cluster label is the component min, hence its fingerprint-group
    * min), but zero-shingle docs (no letter tokens) never enter the
    * near-dup graph, and exact dedup is what collapses their identical
    * copies.
    */
  def trainingSet(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    trainingSurvivors(spark, dir)
      .withColumn("shard", col("doc_id") % Sampling.PackShards)
      .withColumn("run", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("shard"),
        expr(s"run div ${Sampling.PackBudget}").as("pack_no"),
        col("n_tokens"), col("quality"))
      .orderBy("doc_id")
  }

  /** FLAGSHIP #2 — the INGEST pipeline, composing the incremental
    * operator family into the job that runs on EVERY new batch (where
    * [[trainingSet]] is the periodic full-corpus build): exact dedup
    * against the historical fingerprint store → near-dup probe of the
    * historical MinHash band store → quality gate, emitting the
    * accepted new documents with their in-batch duplicate count and
    * quality score. One body ([[ingestOf]]) serves this query over the
    * static batch split and the ingest stream
    * ([[graft.streaming.DocStream.streamPipelineIngest]]) over its
    * micro-batches. 100 TB shape: every stage is the incremental
    * (batch-sized) form — the corpus-sized store contributes one
    * distinct-fingerprint side and one band store, both
    * pre-materialized tables in production.
    */
  def ingest(spark: SparkSession, dir: String): DataFrame =
    ingestOf(Kernels.fanOut(Dedup.ingestSplit(Tables.documents(spark, dir))),
      Dedup.historyFps(spark, dir), Dedup.bandStore(spark, dir))
      .orderBy("doc_id")

  /** The ingest body, in its streaming-legal shape — batch rows
    * (doc_id, text) → (doc_id, fp, n_batch_dups, quality):
    *  - quality, fingerprint and MinHash signatures are per-row
    *    projections ([[Dedup.signed]]) riding the batch scan;
    *  - exact dedup is an anti join on the history fingerprints
    *    ([[Dedup.incremental]]'s store);
    *  - the near-dup probe is FOUR anti joins, one per band, each an
    *    equi-join on that band's key with the exact Jaccard
    *    (`graft_overlap` on the hashed shingle sets, ≥ 0.3) as the
    *    residual condition — "drop the doc if ANY band collides and
    *    verifies" ([[Dedup.incrementalMinHash]]'s verdict), probing the
    *    band store the way production probes a bucketed-by-bkey table;
    *    shingle-less docs keep NULL band keys, which never match;
    *  - the one aggregation folds each surviving fingerprint to its
    *    first doc (with that doc's quality) and its in-batch count, and
    *    the quality gate filters the folded rows — in a stream, its
    *    state is bounded by the batch's distinct fingerprints.
    * Both dedup stages drop whole fingerprint groups: same fp ⟹ same
    * lowercased letter tokens ⟹ same shingles, bands and Jaccard. So
    * each group's count and first doc equal the stage-by-stage
    * composition's, and the gate reads that first doc's quality as the
    * composition does.
    */
  private[graft] def ingestOf(batch: DataFrame, historyFps: DataFrame,
      bandStore: DataFrame): DataFrame = {
    val rows = batch
      .select(col("doc_id"), col("text"),
        md5(TextAnalysis.normalizedText(col("text"))).as("fp"),
        TextAnalysis.tokens(col("text")).as("toks")) // tokens once (no CSE)
      .select(col("doc_id"), col("text"), col("fp"),
        TextAnalysis.quality(col("toks")).as("quality"))
    val withBands = (0 until Dedup.MinHashBands)
      .foldLeft(Dedup.signed(rows)) { (df, b) =>
        df.withColumn(s"bk$b", when(col("nsh") > 0, Dedup.bandKey(b)))
      }
      .drop("sig")
    val nearDeduped = (0 until Dedup.MinHashBands)
      .foldLeft(withBands.join(historyFps, Seq("fp"), "left_anti")) { (df, b) =>
        val jaccard = Dedup.jaccard(batch.sparkSession,
          col("shh"), col("nsh"), col(s"h$b.h_shh"), col(s"h$b.h_nsh"))
        df.join(bandStore.filter(col("band") === b).as(s"h$b"),
          col(s"bk$b") === col(s"h$b.bkey") && jaccard >= 0.3, "left_anti")
      }
    nearDeduped
      .groupBy("fp")
      .agg(min(struct(col("doc_id"), col("quality"))).as("first"),
        count(lit(1)).as("n_batch_dups"))
      .filter(col("first.quality") >= TrainQualityMin)
      .select(col("first.doc_id").as("doc_id"), col("fp"), col("n_batch_dups"),
        col("first.quality").as("quality"))
  }

  /** Per-(source, lang) corpus composition: doc counts, token and char
    * totals, mean document length — the mix report a pipeline checks
    * before setting sampling weights ([[Sampling.weightedMix]]).
    * One combiner-friendly shuffle on a handful of group keys.
    */
  /** `stats_regression`: per-language OLS of token count on character
    * count — the chars-per-token line that drives tokenizer-efficiency
    * and byte-budget planning per language (a mixture targeting N
    * tokens of each language needs each language's chars→tokens rate,
    * plus r² to know when the linear budget model is trustworthy).
    *
    * Exactness across engines — the interesting part. Closed-form OLS
    * from raw moments is order-sensitive in doubles (a float Σxy
    * depends on partition order), so every moment is summed EXACTLY:
    * integer x, y and their products accumulate as DECIMAL(38,0)
    * (HUGEINT in the oracle), and only the final slope / intercept /
    * r² arithmetic drops to doubles — identical expressions over
    * identical exact integers, rounded at 6dp. Scale shape: one
    * map-only tokenize pass, one combiner-friendly aggregate on the
    * languages-sized key set; the moments are a constant-width state
    * regardless of corpus size (the textbook distributed-OLS shape).
    */
  def statsRegression(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val moments = Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars").as("x"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("y"))
      .groupBy("lang")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x").cast(d38)).as("sx"),
        sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"),
        sum((col("y") * col("y")).cast(d38)).as("syy"))
    val nD = col("n").cast("double")
    val num = (col("n").cast(d38) * col("sxy") - col("sx") * col("sy")).cast("double")
    val denx = (col("n").cast(d38) * col("sxx") - col("sx") * col("sx")).cast("double")
    val deny = (col("n").cast(d38) * col("syy") - col("sy") * col("sy")).cast("double")
    val slope = num / denx
    moments.select(col("lang"), col("n"),
        round(slope, 6).as("slope"),
        round((col("sy").cast("double") - slope * col("sx").cast("double")) / nD, 6)
          .as("intercept"),
        round(pow(num / sqrt(denx * deny), 2), 6).as("r2"))
      .orderBy("lang")
  }

  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        col("n_chars"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum("n_chars").as("total_chars"),
        round(sum("n_tokens").cast("double") / count(lit(1)), 4).as("avg_doc_tokens"))
      .orderBy("source", "lang")
}
