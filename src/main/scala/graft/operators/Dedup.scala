package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession, functions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructType}

import graft.Tables

/** Deduplication operators for LLM-data pipelines (north star; not
  * reference-derived — SURVEY.md §2.5 notes the reference has none).
  *
  * Scale posture: every pair-producing operator goes through an
  * inverted-index join (explode the feature, join on the feature,
  * group by pair) — never a cross join. At 100 TB the candidate set is
  * bounded by feature-bucket sizes; hot buckets (stopword shingles)
  * are the skew risk, handled by AQE skew-join locally and salting in
  * production. MinHash-LSH bounds candidates further: only docs
  * agreeing on a full band collide.
  *
  * All hashes are md5-derived so the DuckDB oracle reproduces them
  * bit-for-bit.
  */
object Dedup {

  /** Lowercased letter-run tokens (same tokenizer as TextAnalysis). */
  private def toksLower: Column =
    filter(functions.split(lower(col("text")), TextAnalysis.TokenSplitRe), t => length(t) > 0)

  // Cached intermediates can't be unpersisted inside the builders (the
  // returned DataFrame is lazy — the cache must survive until the
  // caller's action). Contract PER THREAD (the registry is
  // thread-scoped, see [[Kernels]]): BUILD one dedup pipeline, EXECUTE
  // its action, then call [[retireCaches]] (Bench/Verify do). No
  // operator retires on entry: that would drain the caller's own pins
  // in the middle of its query. Concurrent queries on separate threads
  // are isolated.

  /** Unpersist every cache the calling thread's builders pinned
    * (thread-scoped registry shared with other operators via
    * [[Kernels.retireCaches]]). Call after the consuming action
    * completes; otherwise the (SF-sized) exploded shingle frames stay
    * pinned in storage memory for the rest of the session and tax
    * every later query (measured 2-4x on the bench tail in round 2).
    */
  def retireCaches(): Unit = Kernels.retireCaches()

  /** Distinct word n-gram shingles of a token array; a doc shorter than
    * n tokens contributes its whole text as one shingle. Every
    * operator runs [[withShingles]]'s typed loop instead; this
    * declarative form states the same semantics as the DuckDB oracle's
    * expression, and the shingle spec pins it.
    */
  def shingles(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))
    when(size(toks) >= n, array_distinct(grams))
      .when(size(toks) > 0, array(concat_ws(" ", toks)))
      .otherwise(array().cast("array<string>"))
  }

  /** Replaces `text` with its shingle array `sh`, carrying every other
    * column through: a typed `mapPartitions` pass. The Column
    * formulation ([[shingles]]) chains three interpreted higher-order
    * functions per row and dominated the dedup wall time (measured
    * 10-200s at sf0.1 vs <1s here); a compiled per-partition loop with
    * a precompiled regex is the right engine-side kernel for this
    * shape. Semantics identical: lowercase letter-run tokens, distinct
    * 3-grams, whole-text fallback for short docs. Stateless, so legal
    * in a streaming plan.
    */
  private[graft] def withShingles(df: DataFrame): DataFrame = {
    val textAt = df.schema.fieldIndex("text")
    val carried = df.schema.indices.filter(_ != textAt)
    val out = StructType(carried.map(df.schema(_))).add("sh", ArrayType(StringType))
    df.mapPartitions { it =>
      val re = java.util.regex.Pattern.compile("[^\\p{L}]+")
      it.map { r =>
        // Locale.ROOT: default-locale lowercasing (tr-TR dotless-ı)
        // would diverge from the oracle's locale-independent lower()
        val toks = re.split(r.getString(textAt).toLowerCase(java.util.Locale.ROOT))
          .filter(_.nonEmpty)
        val sh =
          if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toArray.distinct
          else if (toks.nonEmpty) Array(toks.mkString(" "))
          else Array.empty[String]
        Row.fromSeq(carried.map(r.get) :+ sh.toSeq)
      }
    }(Encoders.row(out))
  }

  /** (doc_id, sh) of every document, the kernel fanned out: small
    * single-file inputs arrive as ONE scan partition.
    */
  private def docShingles(spark: SparkSession, dir: String): DataFrame =
    withShingles(Kernels.fanOut(Tables.documents(spark, dir).select(col("doc_id"), col("text"))))

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs
    * against the full shingle sets, shared by [[ngramJaccard]] and
    * [[minHashLsh]]. Tuned for the candidate-heavy shape:
    *
    *  - joins are shuffle_hash, NOT sort-merge — a sort-merge join would
    *    sort the candidate stream carrying full shingle arrays after the
    *    first join (pure overhead; the hash build side per partition is
    *    |corpus|/shuffle.partitions rows);
    *  - the intersection runs over 64-bit xxhash64 shingle hashes, not
    *    strings — the threshold predicate gets pushed into the join
    *    condition where Catalyst re-inlines (no CSE) the intersection
    *    per reference, so each candidate pays for it 2-3×; hashing makes
    *    each evaluation ~10× cheaper (8-byte compares, no UTF8String
    *    hashing). Distinct-shingle hash collisions would perturb a
    *    count by 1 with probability ~|vocab|²/2⁶⁵ (≈1e-11 at sf0.1) —
    *    negligible, and the DuckDB oracle cross-checks every run.
    */
  private def verifyJaccard(shArr: DataFrame, cand: DataFrame): DataFrame = {
    val spark = shArr.sparkSession
    // sorted ONCE per doc so the per-candidate overlap is a zero-
    // allocation codegen'd merge scan (graft_overlap) instead of a
    // hash-set + materialized intersection per evaluation — the
    // intersection is re-inlined into the join condition 2-3x per
    // candidate, so its constant factor multiplies
    val hashed = shArr.select(col("doc_id"),
      sort_array(transform(col("sh"), s => xxhash64(s))).as("shh"),
      size(col("sh")).as("nsh"))
    cand
      .join(hashed.as("A").hint("shuffle_hash"), col("doc_a") === col("A.doc_id"))
      .join(hashed.as("B").hint("shuffle_hash"), col("doc_b") === col("B.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.VectorFunctions.overlap(spark, col("A.shh"), col("B.shh"))
          .cast("double").as("common"),
        (col("A.nsh") + col("B.nsh")).cast("double").as("sz"))
      .select(col("doc_a"), col("doc_b"),
        round(col("common") / (col("sz") - col("common")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.3) // callers order (and dedup) the result
  }

  /** Exact dedup: group by content fingerprint, keep the smallest
    * doc_id. The canonical first pass of any dedup pipeline: one
    * shuffle on the hash, combiner-friendly.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(TextAnalysis.normalizedText(col("text"))).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
      .orderBy("fp")

  /** First hex char of md5("inc:"+doc_id) below this ⇒ the doc plays
    * the "new ingest batch" role (~25%); the rest is the already-
    * deduplicated historical corpus.
    */
  val IncBatchThreshold = "4"

  /** The `inc:` id-hash split every incremental query shares: the
    * first hex char of md5("inc:"+id), compared to [[IncBatchThreshold]].
    */
  def split(id: Column): Column =
    substring(md5(concat(lit("inc:"), id.cast("string"))), 1, 1)

  /** The batch role of [[split]]; its negation is the history. */
  def isBatch(id: Column): Column = split(id) < IncBatchThreshold

  /** Incremental dedup — the production shape of [[exact]]: a NEW
    * ingest batch is deduplicated against the fingerprint store of the
    * existing corpus, emitting only first-seen batch documents (with
    * the batch-internal duplicate count). Real pipelines run this
    * every ingest; full-corpus re-dedup is a backfill-only event.
    *
    * 100 TB shape: the batch/history split rides the SCAN (predicate
    * on doc_id only, each doc hashed once on one side); the history
    * side reduces to DISTINCT fingerprints (combiner-friendly, and in
    * production a pre-materialized store — here derived inline to stay
    * self-contained); the anti join shuffles batch-sized + store-sized
    * fingerprints, never document text. The standard accelerator when
    * the store dwarfs the batch is a bloom filter of store
    * fingerprints broadcast ahead of the anti join — same plan shape
    * with a map-side pre-filter, lossy only toward EXTRA anti-join
    * work, never toward false drops. The ingest stream runs the same
    * body ([[firstSeen]]) over its micro-batches.
    */
  def incremental(spark: SparkSession, dir: String): DataFrame =
    firstSeen(ingestSplit(Tables.documents(spark, dir)), historyFps(spark, dir))
      .orderBy("doc_id")

  /** The new-ingest rows (doc_id, text) of a documents frame, static or
    * streaming: the batch side of the [[split]].
    */
  private[graft] def ingestSplit(docs: DataFrame): DataFrame =
    docs.filter(isBatch(col("doc_id"))).select(col("doc_id"), col("text"))

  /** The history's distinct content fingerprints: the static store
    * side of every exact incremental probe.
    */
  private[graft] def historyFps(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(!isBatch(col("doc_id")))
      .select(md5(TextAnalysis.normalizedText(col("text"))).as("fp")).distinct()

  /** The body of [[incremental]] and its stream twin: batch rows
    * (doc_id, text) anti-join the history fingerprints and fold to
    * each first-seen fingerprint with its in-batch duplicate count.
    */
  private[graft] def firstSeen(batch: DataFrame, history: DataFrame): DataFrame =
    batch.select(col("doc_id"), md5(TextAnalysis.normalizedText(col("text"))).as("fp"))
      .join(history, Seq("fp"), "left_anti")
      .groupBy("fp")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_batch_dups"))
      .select(col("doc_id"), col("fp"), col("n_batch_dups"))

  /** `dedup_incremental_bloom`: [[incremental]] with the accelerator
    * its docstring names, BUILT — a bloom filter over store
    * fingerprints (distributed treeAggregate build via
    * `DataFrameStatFunctions.bloomFilter`, then one broadcast)
    * pre-routes the batch: rows the filter rules out are definitely
    * new and BYPASS the anti-join entirely; only maybe-in-store rows
    * pay the fingerprint shuffle. Bloom error is one-sided — a false
    * positive sends an extra row to the exact anti-join, never drops
    * one — so the output is bit-identical to [[incremental]] and the
    * oracle runs the same SQL.
    *
    * 100 TB shape: the store dwarfs every ingest batch, and most batch
    * fingerprints are genuinely new — the fast path turns the dominant
    * per-ingest cost from a batch-sized shuffle into a map-side bitset
    * probe. The bitset is sized from store cardinality (a production
    * store tracks this in metadata; derived here with one count over
    * the cached store frame). Build and probe are Spark's NATIVE
    * bloom expressions ([[graft.functions.BloomFunctions]]): the build
    * is a partial-aggregating `bloom_filter_agg` over the store, and
    * the probe is the codegen'd `might_contain` over the filter bytes
    * as a literal — the same expression pair the engine's own runtime
    * row-group filters inject, so the probe stays inside
    * WholeStageCodegen instead of a row-at-a-time Scala UDF
    * (plan-audited).
    */
  def incrementalBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomFunctions
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(TextAnalysis.normalizedText(col("text"))).as("fp"),
        split(col("doc_id")).as("split"))
    val batch = docs.filter(col("split") < IncBatchThreshold)
    // cached: feeds the bloom build AND the anti-join right side
    val store = Kernels.cacheTracked(docs.filter(col("split") >= IncBatchThreshold)
      .select("fp").distinct())
    // filter-sized driver value (the codebook contract), shipped back
    // into the probe as a binary literal so might_contain codegens
    val bfBytes = store
      .agg(BloomFunctions.bloomAgg(spark, col("fp"),
        math.max(store.count(), 1L), 0.03).as("bf"))
      .head.getAs[Array[Byte]](0)
    // BloomFilterAggregate yields NULL over an EMPTY build side, and a
    // null filter literal makes BOTH might_contain branches evaluate to
    // null — silently dropping every batch row. An empty store means
    // every batch row is definitely new: skip the probe AND the
    // anti-join entirely (first-ingest fast path).
    val routed = if (bfBytes == null) batch else {
      val mightContain = BloomFunctions.mightContain(spark, lit(bfBytes), col("fp"))
      val definiteNew = batch.filter(!mightContain)
      val survivors = batch.filter(mightContain)
        .join(store, Seq("fp"), "left_anti")
      definiteNew.select("fp", "doc_id")
        .union(survivors.select("fp", "doc_id"))
    }
    routed.select("fp", "doc_id")
      .groupBy("fp")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_batch_dups"))
      .select(col("doc_id"), col("fp"), col("n_batch_dups"))
      .orderBy("doc_id")
  }

  /** Span k-gram length for [[spanDedup]] (word tokens). */
  val SpanK = 8

  /** The span-gram column [[spanDedup]] and its stream twin share: md5
    * of each [[SpanK]]-token window of `toks`, in start order; empty
    * below [[SpanK]] tokens.
    */
  private[graft] def spanGrams(toks: Column): Column =
    when(size(toks) >= SpanK,
      transform(sequence(lit(1), size(toks) - (SpanK - 1)),
        i => md5(concat_ws(" ", slice(toks, i, lit(SpanK))))))
      .otherwise(array().cast("array<string>"))

  /** `dedup_spans`: SPAN-level exact dedup — remove duplicated
    * [[SpanK]]-token spans from documents while keeping the corpus-wide
    * FIRST occurrence of each span (the ExactSubstr discipline of Lee
    * et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022, re-expressed over word k-grams). Document-level
    * dedup misses boilerplate shared across otherwise-distinct pages
    * (headers, license blocks, quoted passages); span dedup excises
    * exactly those regions and leaves the rest of the document intact.
    *
    * Semantics: a k-gram occurrence (doc, start) is REMOVED iff its
    * gram text occurs more than once corpus-wide and (doc, start) is
    * not the lexicographically-first occurrence; a token is dropped iff
    * some removed occurrence covers it (start ∈ [pos−k+1, pos]). Docs
    * shorter than k tokens have no grams and pass through unchanged.
    *
    * 100 TB shape: gram fingerprints are map-side (md5 over a sliding
    * slice of the token array — one scan, no self-join); the global
    * first-occurrence/count aggregate is combiner-friendly
    * (`min(struct(doc, start))` and `count` both partial-aggregate);
    * the mark-removed join keys on the gram fingerprint with the
    * DUPLICATED-ONLY stats side (filtered before the join — vastly
    * smaller than the gram stream, broadcastable in realistic
    * corpora); removed starts then collapse to a per-doc array (rows =
    * removed occurrences only) and rejoin the corpus on doc_id. Token
    * masking is per-row array logic — no window, no second explode.
    */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    val k = SpanK
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), toksLower.as("toks"))
    val grams = docs
      .select(col("doc_id"), posexplode(spanGrams(col("toks"))).as(Seq("i", "fp")))
      .select(col("doc_id"), (col("i") + 1).cast("long").as("s"), col("fp"))
    val dupStats = grams.groupBy("fp")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("s"))).as("first"))
      .filter(col("cnt") > 1)
      .select(col("fp"), col("first"))
    val removedStarts = grams.join(dupStats, "fp")
      .filter(!(col("doc_id") === col("first.doc_id") && col("s") === col("first.s")))
      .groupBy("doc_id")
      .agg(collect_list(col("s")).as("rs"))
    docs.join(removedStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("rs"), array().cast("array<long>")).as("rs"))
      .withColumn("kept", filter(col("toks"), (_, i) =>
        !exists(col("rs"), s => s <= i + 1 && s + (k - 1) >= i + 1)))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("text_dedup"))
      .orderBy("doc_id")
  }

  /** Near-dup pairs by 3-gram Jaccard ≥ 0.3, via a PREFIX-FILTERED
    * inverted-index join (PPJoin-style prefix filtering; Xiao, Wang,
    * Lin & Yu, WWW 2008, Lemma 1): under a global total order on
    * shingles, J(A,B) ≥ t implies the first |A|−⌈t·|A|⌉+1 shingles of A
    * and the first |B|−⌈t·|B|⌉+1 of B share at least one element — so
    * joining on PREFIX shingles only is lossless. The order is
    * ascending global document-frequency (rarest first, tie-break on
    * the shingle string), which keeps hot stopword shingles OUT of the
    * prefixes: the naive join on every shingle occurrence is quadratic
    * in hot-bucket size (31% of the round-2 bench); prefix candidates
    * are bounded by rare-bucket sizes. Candidates are then verified
    * with exact Jaccard over the full shingle sets, so results are
    * identical to the all-pairs formulation the oracle runs.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramPairs(spark, dir).orderBy("doc_a", "doc_b")

  // Like the label frame below, the VERIFIED pair set is a per-corpus
  // product consumed by two query families (the pair listing and the
  // component loop) — memoized per input and cut so the
  // session pays the prefix-filtered join once, and the builder's
  // SF-sized caches are released the moment the checkpoint materializes.
  private def ngramPairs(spark: SparkSession, dir: String): DataFrame =
    Kernels.memo("dedup-pairs", Kernels.inputKey(dir, "documents.parquet")) {
      Kernels.releasing(Kernels.cut(buildNgramPairs(spark, dir)))
    }

  // package-private so the plan audit inspects the BUILDER's join plan
  // (the public query serves the materialized checkpoint once built)
  private[graft] def buildNgramPairs(spark: SparkSession, dir: String): DataFrame = {
    // cached: feeds the df-agg + prefix build AND the verify join sides
    val shArr = Kernels.cacheTracked(docShingles(spark, dir))
    val ex = shArr.select(col("doc_id"), explode(col("sh")).as("s"))
    // global shingle document frequency: combiner-friendly, |vocab| rows
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    // per-doc prefix under the (df, s) total order; ⌈0.3·n⌉ = (3n+9)/10
    // in exact integer arithmetic (no float-rounding games)
    val n = size(col("sorted"))
    // +1 slack beyond the Lemma-1 length n−⌈0.3n⌉+1: the emitted
    // threshold is round(J,6) ≥ 0.3, and a pair with true J a hair
    // BELOW 0.3 that rounds up must still become a candidate (the
    // slack keeps the filter lossless for J ≥ 0.3−1/n up to n≈10⁶)
    val prefixLen = (n - floor((n * 3 + 9) / 10) + 2).cast("int")
    // cached: the self-join's two sides carry distinct attribute ids, so
    // without a cache each side re-runs the explode+df-join+sort pipeline
    val prefix = Kernels.cacheTracked(ex.join(dfreq, "s")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("sorted"))
      .select(col("doc_id"), size(col("sorted")).as("nsh"),
        explode(slice(col("sorted"), lit(1), prefixLen)).as("ps"))
      .select(col("doc_id"), col("nsh"), col("ps.s").as("s")))
    // PPJoin length filter in the join condition: J(A,B) ≥ 0.3 forces
    // ⌈0.3·|A|⌉ ≤ |B| (and symmetrically), so size-incompatible pairs
    // never become candidates; the −10 slack mirrors the prefix slack
    // for round-to-threshold boundary pairs. NO distinct before verify:
    // duplicated candidates re-verify (cheap, hashed) and the distinct
    // runs on the few hundred survivors instead of every candidate.
    val cand = prefix.as("a")
      .join(prefix.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id")
              && col("b.nsh") * 10 >= col("a.nsh") * 3 - 10
              && col("a.nsh") * 10 >= col("b.nsh") * 3 - 10)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    verifyJaccard(shArr, cand).distinct()
  }

  /** Connected-component dedup clustering: every document is labeled
    * with the smallest doc_id in its near-duplicate component (edges =
    * [[ngramJaccard]] pairs, J ≥ 0.3); singletons keep their own id.
    * This is the step real pipelines run after pair generation — "keep
    * one document per near-dup cluster".
    *
    * Iterative min-label propagation (hash-to-min):
    * `label(x) ← min(label(x), min over neighbors y of label(y))` until
    * fixpoint — O(component diameter) rounds, each one shuffle join +
    * partial-aggregated min, the standard large-scale connected-
    * components shape. Edges never materialize on the driver; the loop
    * only reads a per-round change COUNT. Labels are re-cached per
    * round (and the previous round blocking-unpersisted) so lineage
    * stays one round deep.
    */
  def clusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).orderBy("doc_id")

  // The label frame is a per-corpus PRODUCT a production pipeline
  // materializes ONCE per ingest and every consumer reads (clusters,
  // keep-list, the training-set composition) — so it is memoized per
  // input like the k-means codebook (keyed on table path + file fingerprint,
  // see Kernels.inputKey) and cut: lineage-free, blocks
  // pinned by the memo reference, so it survives the per-query cache
  // retirement that drops the builder's own intermediates. Without the
  // memo, dedup_clusters, dedup_keep and pipeline_training_set each
  // re-ran the full pair join + component loop (3x the most expensive
  // computation in the bench).

  /** [[clusters]] without the output sort, shared with [[keep]] (which
    * immediately re-aggregates — a sort there would be pure overhead).
    */
  private def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    Kernels.memo("dedup-labels", Kernels.inputKey(dir, "documents.parquet")) {
      // The edge set arrives ALREADY materialized and lineage-free
      // (the ngramPairs checkpoint): an iterative consumer that kept
      // the ngram pipeline in its plan re-executed pieces of it
      // through every union branch / range-sort sampling pass
      // (measured 197s for the FIRST round at sf0.1 vs 9.6s for
      // ngramJaccard standalone). The pair set is the dedup OUTPUT —
      // orders of magnitude smaller than the corpus — so
      // checkpointing it is cheap at any scale (production: a
      // reliable checkpoint dir; Kernels.cut is the single-node
      // twin).
      val edges = ngramPairs(spark, dir).select(col("doc_a"), col("doc_b"))
      val docs = Tables.documents(spark, dir).select(col("doc_id"))
      // the checkpoint is the materializing action: the loop's own
      // caches are dead weight from here on — free them immediately
      // instead of waiting for the caller's retirement
      Kernels.releasing(Kernels.cut(clustersFromEdges(docs, edges)))
    }

  /** The dedup END PRODUCT: one row per SURVIVING document — each
    * cluster's representative (the smallest doc_id, i.e. the label
    * itself) with its member count. `n_members` = 1 marks singletons;
    * > 1 marks a representative standing in for dropped near-dups.
    * This is the keep-list a pipeline joins against the corpus to
    * materialize the deduplicated training set; one combiner-friendly
    * shuffle over the label frame beyond [[clusters]].
    */
  def keep(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"))
      .select(col("cluster").as("doc_id"), col("n_members"))
      .orderBy("doc_id")

  /** Materializes the near-dup keep-list to `path` as parquet — the
    * dedup counterpart of [[graft.operators.Bpe.writeMergeTable]]'s
    * durable-artifact contract: the connected-components closure and
    * its memoized edge caches are session-local, but the DECISION (who
    * survives) is what every downstream job needs — production
    * computes it once per corpus version, writes it, and exports /
    * training-set builds semi-join the written artifact instead of
    * re-running the dedup (the "materialize the keep-list once" story).
    */
  def writeKeepList(spark: SparkSession, dir: String, path: String): Unit =
    keep(spark, dir).write.mode("overwrite").parquet(path)

  /** Serves the keep-list from a [[writeKeepList]] artifact — no
    * shingling, no component closure, no dependence on the writer
    * session; any session that can read the path filters its corpus
    * with one semi-join against this frame.
    */
  def keepListFrom(spark: SparkSession, path: String): DataFrame =
    Tables.parquet(spark, path).orderBy("doc_id")

  /** The incremental MERGE core behind [[keepMaintain]] — the
    * [[graft.operators.Relational.cdcMerge]] upsert shape applied to the dedup
    * product (keep-list = base table, the ingest batch's dedup outcome
    * = change log):
    *
    *  - history endpoints of batch-touching near-dup edges are
    *    CONTRACTED to their existing cluster representative (an
    *    already-connected set can be replaced by one node without
    *    changing components — and the representative is the cluster
    *    min, so min-label semantics survive contraction);
    *  - components are re-solved ONLY over the contracted subgraph:
    *    batch docs plus touched representatives — batch-sized work, not
    *    corpus-sized (the [[clustersFromEdges]] loop runs over the
    *    ingest's blast radius);
    *  - member counts merge by WEIGHT: a touched representative carries
    *    its cluster's whole count, a batch doc carries 1, so the merged
    *    count is exact without touching history members;
    *  - untouched keep-list rows ride through an anti-join unchanged —
    *    the base is never shuffled beyond the (bounded) touched set,
    *    the CDC contract.
    *
    * EXACTNESS: every union-corpus near-dup pair either lies within
    * history (already folded into the base) or touches the batch
    * (handled here), so maintained == full recompute over the union —
    * spec-pinned synthetically (cluster-bridging batch docs) and
    * against [[keep]] on the real corpus, and the gate runs the full
    * recompute as the oracle.
    *
    * `histLabels`: (doc_id, cluster) for every history document;
    * `batchDocs`: (doc_id); `batchEdges`: (doc_a, doc_b) verified
    * near-dup pairs touching ≥ 1 batch doc.
    */
  private[graft] def maintainKeep(
      histLabels: DataFrame, batchDocs: DataFrame, batchEdges: DataFrame): DataFrame = {
    val baseKeep = histLabels.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"))
      .select(col("cluster").as("doc_id"), col("n_members"))
    val merged = blastMerge(histLabels, batchDocs, batchEdges)
    val upserts = merged
      .join(baseKeep.select(col("doc_id"), col("n_members").as("w")),
        Seq("doc_id"), "left")
      .select(col("cluster"), coalesce(col("w"), lit(1L)).as("w"))
      .groupBy("cluster")
      .agg(sum("w").as("n_members"))
      .select(col("cluster").as("doc_id"), col("n_members"))
    val untouched = baseKeep.join(merged.select("doc_id"), Seq("doc_id"), "left_anti")
    untouched.unionByName(upserts)
  }

  /** The contraction core [[maintainKeep]] and [[maintainLabels]]
    * share: history endpoints of batch-touching edges contract to
    * their stored representatives, and components re-solve over the
    * ingest's blast radius only (batch docs + touched reps — never
    * corpus-sized). Returns the blast radius' (doc_id, cluster)
    * labels, where every node is a batch doc or an OLD representative
    * and every label is the component's minimum node id — the global
    * minimum of the union component, because a rep is already its old
    * cluster's minimum.
    */
  private[graft] def blastMerge(
      histLabels: DataFrame, batchDocs: DataFrame, batchEdges: DataFrame): DataFrame = {
    val contracted = batchEdges
      .join(histLabels.select(col("doc_id").as("doc_a"), col("cluster").as("ca")),
        Seq("doc_a"), "left")
      .join(histLabels.select(col("doc_id").as("doc_b"), col("cluster").as("cb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("ca"), col("doc_a")).as("doc_a"),
        coalesce(col("cb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val nodes = batchDocs.select(col("doc_id"))
      .union(contracted.select(col("doc_a").as("doc_id")))
      .union(contracted.select(col("doc_b").as("doc_id")))
      .distinct()
    clustersFromEdges(nodes, contracted)
  }

  /** [[maintainKeep]]'s LABELS twin: merge one ingest batch into a
    * stored per-doc label table and return the maintained (doc_id,
    * cluster) over history ∪ batch — the state a STREAM of ingest
    * batches folds through, where the aggregated keep rows alone
    * cannot absorb the next batch (contracting its edges needs every
    * seen doc's current representative). Stored rows whose rep the
    * blast radius never touched ride through unchanged; touched
    * clusters re-key through the rep → new-label map (adding nodes or
    * edges only MERGES components, so every old cluster maps into
    * exactly one new one — re-keying is a function, and per-batch
    * folds COMMUTE to the union-corpus components, the
    * [[maintainKeep]] exactness argument applied transitively).
    *
    * Write-amplification note: this RETURNS the full maintained label
    * frame, and the streaming consumer rewrites its store per batch —
    * fine for a drain gate. At 100 TB the label table is stored
    * partitioned by cluster and the rekey is a MERGE driven by the
    * broadcast-sized rep → new-label map, touching only the affected
    * clusters' partitions (untouched rows pass through this plan
    * VALUE-unchanged precisely so that merge is sound).
    */
  private[graft] def maintainLabels(
      histLabels: DataFrame, batchDocs: DataFrame, batchEdges: DataFrame): DataFrame = {
    val merged = blastMerge(histLabels, batchDocs, batchEdges)
    val repMap = merged.select(col("doc_id").as("rep"), col("cluster").as("ncluster"))
    val rekeyed = histLabels.as("h")
      .join(repMap, col("h.cluster") === col("rep"), "left")
      .select(col("h.doc_id").as("doc_id"),
        coalesce(col("ncluster"), col("h.cluster")).as("cluster"))
    // batch docs take their blast-radius label (singletons label
    // themselves — clustersFromEdges' convention); old reps are
    // already covered by the re-key above
    val batchLabels = merged
      .join(batchDocs.select("doc_id"), Seq("doc_id"), "leftsemi")
      .select(col("doc_id"), col("cluster"))
    rekeyed.unionByName(batchLabels)
  }

  /** `dedup_keep_maintain`: incremental keep-list maintenance — the
    * missing refresh path between the per-ingest duplicate FINDERS
    * ([[incremental]] and friends) and the full-corpus keep-list
    * recompute: merge one ingest batch's near-dup outcome into the
    * existing keep-list via [[maintainKeep]], so the maintained list
    * over the union corpus costs batch-blast-radius work instead of a
    * backfill. Split roles follow the shared `inc:` convention; the
    * base state (history labels) is derived in-session here — the
    * durable flavor is [[writeKeepState]] + [[keepMaintainFrom]]. The
    * oracle is the FULL keep-list recompute over the union corpus
    * ([[keep]]'s SQL): maintained == recomputed, exactly.
    */
  def keepMaintain(spark: SparkSession, dir: String): DataFrame = {
    val (histLabels, batchDocs, batchEdges) = splitState(spark, dir)
    maintainKeep(histLabels, batchDocs, batchEdges).orderBy("doc_id")
  }

  /** History labels + batch docs + batch-touching edges under the
    * `inc:` split. Pair sets restrict losslessly: J(A,B) is
    * corpus-independent and the prefix filter is exact, so the full
    * corpus' verified pairs partition into history-internal edges
    * (folded into the base) and batch-touching edges (the change log).
    * In production the batch side generates its pairs by probing the
    * posting/prefix store ([[incrementalMinHash]]'s shape); here both
    * slices come from the memoized corpus pair set.
    */
  private def splitState(
      spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val edges = ngramPairs(spark, dir).select("doc_a", "doc_b")
    val docs = Tables.documents(spark, dir).select("doc_id")
    val histDocs = docs.filter(!isBatch(col("doc_id")))
    val histEdges = edges.filter(!isBatch(col("doc_a")) && !isBatch(col("doc_b")))
    // materialized + lineage-cut: the base state is an input to the
    // merge, not part of its plan (production reads it from parquet)
    // the history component loop's caches are dead once it is checkpointed
    val histLabels = Kernels.releasing(Kernels.cut(clustersFromEdges(histDocs, histEdges)))
    val batchDocs = docs.filter(isBatch(col("doc_id")))
    val batchEdges = edges.filter(isBatch(col("doc_a")) || isBatch(col("doc_b")))
    (histLabels, batchDocs, batchEdges)
  }

  /** Writes the maintainable dedup STATE of the history corpus to
    * `path` — `labels` (every history doc's cluster) next to `keep`
    * (the aggregated keep-list). The keep-list ALONE cannot absorb a
    * future batch: merging needs to know which cluster each history
    * member belongs to (to contract edge endpoints), so the durable
    * state a production pipeline maintains is labels + keep, refreshed
    * per ingest by [[keepMaintainFrom]] instead of a full recompute.
    */
  def writeKeepState(spark: SparkSession, dir: String, path: String): Unit = {
    val (histLabels, _, _) = splitState(spark, dir)
    histLabels.write.mode("overwrite").parquet(s"$path/labels")
    histLabels.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"))
      .select(col("cluster").as("doc_id"), col("n_members"))
      .write.mode("overwrite").parquet(s"$path/keep")
  }

  /** [[keepMaintain]] served from a [[writeKeepState]] artifact: any
    * session that can read the path merges the batch against the
    * STORED labels — no history re-clustering, no dependence on the
    * writer session. Value-equal to [[keepMaintain]] (and so to the
    * full recompute), spec-pinned cross-session.
    */
  def keepMaintainFrom(spark: SparkSession, dir: String, path: String): DataFrame = {
    val histLabels = Tables.parquet(spark, s"$path/labels")
    val docs = Tables.documents(spark, dir).select("doc_id")
    val batchDocs = docs.filter(isBatch(col("doc_id")))
    val batchEdges = ngramPairs(spark, dir).select("doc_a", "doc_b")
      .filter(isBatch(col("doc_a")) || isBatch(col("doc_b")))
    maintainKeep(histLabels, batchDocs, batchEdges).orderBy("doc_id")
  }

  /** `dedup_keep_best`: the QUALITY-AWARE keep-list — instead of
    * [[keep]]'s positional representative (smallest doc_id), each
    * near-dup cluster keeps its highest-quality member (tie → lowest
    * doc_id), the policy real pipelines want: when a cleaned copy and
    * a boilerplate-ridden copy of the same article collide, keep the
    * clean one.
    *
    * Shape: quality is the map-only [[TextAnalysis.quality]]
    * expression riding the document scan; the label frame (memoized
    * per corpus) joins it on doc_id and ONE combiner-friendly
    * aggregate picks the argmax via `max(struct(quality, -doc_id))` —
    * a monoid, so no per-cluster window over the corpus. The partial
    * aggregation makes the representative choice partition-order
    * independent by construction.
    */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val quality = docs.select(col("doc_id"), TextAnalysis.quality(col("toks")).as("quality"))
    clusterLabels(spark, dir)
      .join(quality, "doc_id")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality"), (-col("doc_id")).as("nneg"))).as("best"))
      .select(col("cluster"), (-col("best.nneg")).as("keep_id"),
        col("best.quality").as("quality"), col("n_members"))
      .orderBy("cluster")
  }

  /** `dedup_cross_source`: exact dedup with SOURCE PRECEDENCE — when
    * the same content arrives from several sources, keep the copy from
    * the most-trusted one (curated beats crawled), not merely the
    * smallest id. Priority here is the source's numeric suffix
    * (src0 strongest), an explicit stand-in for the per-source trust
    * rank a production pipeline configures.
    *
    * Same one-shuffle shape as [[exact]]: the fingerprint and priority
    * are map-side expressions, and the winner is the monoid
    * `min(struct(priority, doc_id))` — combiner-friendly, no window,
    * no second pass. `n_sources` (distinct sources per group) rides
    * the same aggregate.
    */
  def crossSource(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(md5(TextAnalysis.normalizedText(col("text"))).as("fp"), col("doc_id"),
        substring(col("source"), 4, 10).cast("long").as("prio"),
        col("source"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min(struct(col("prio"), col("doc_id"))).as("best"))
      .select(col("fp"), col("best.doc_id").as("keep_id"),
        col("best.prio").as("keep_prio"), col("n_docs"), col("n_sources"))
      .orderBy("fp")

  /** [[keep]]'s doc_id set without the output sort or member counts —
    * the composition-side shape: [[graft.operators.Corpus.trainingSet]]
    * semi-joins it, where a sort (and the count aggregate's second
    * column) would be pure overhead.
    */
  private[operators] def keepIds(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir)
      .select(col("cluster").as("doc_id")).distinct()

  /** The label-propagation core of [[clusters]], parameterized on the
    * node and edge frames (package-private so specs can drive it with
    * synthetic chain/star graphs that exercise multi-round
    * convergence). `docs` needs a `doc_id` column; `edges` needs
    * `doc_a`/`doc_b`.
    */
  /** Per-round probe hook (spec-only): called with (round, analyzed
    * plan node count of the round's label frame, changed count). The
    * node count is the lineage-cut contract made observable — constant
    * from round 1 on, because each round ends in a cut (the probe
    * shape of [[Bpe.trained]], which would have caught
    * the round-9 regression where cache-without-checkpoint grew the
    * plan ~4x per round to 2 GiB plan strings).
    */
  private[graft] def clustersFromEdges(
      docs: DataFrame, edges: DataFrame,
      probe: (Int, Int, Long) => Unit = (_, _, _) => ()): DataFrame = {
    // pre-partitioned BY THE JOIN KEY (doc_b, the propagate join's
    // hash side) at a size-adaptive partition count — see
    // [[Kernels.sizedKeyedCache]]: the edge shuffle runs once instead
    // of once per round, and a tiny blast-radius graph does not run
    // default-parallelism near-empty tasks per stage per round.
    val sym = Kernels.sizedKeyedCache(edges.union(
      edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))),
      col("doc_b"))
    // propagate only over edge-incident nodes — singletons can never
    // change label, so they skip the loop entirely and rejoin at the
    // end (near-dup graphs are a tiny fraction of the corpus; looping
    // over every document made each round ~100x bigger for nothing).
    // Laid out at the slimmed edge cache's width: cache
    // materialization bypasses AQE coalescing, so the distinct would
    // otherwise pin `spark.sql.shuffle.partitions` near-empty
    // partitions that every round-0 stage inherits.
    val nodes = Kernels.cacheTracked(sym.select(col("doc_a").as("doc_id")).distinct()
      .repartition(sym.rdd.getNumPartitions, col("doc_id")))
    // labelsCache is the round's MATERIALIZED frame (cached for round
    // 0, cut for every round after); labels is the 2-column view of it
    // the next round consumes. Each round frees the PREVIOUS round's
    // cut ([[Kernels.free]]) — without this the loop accumulates one
    // node-sized materialized frame PER ROUND. The last round's cut
    // stays alive for the caller, whose retire frees it.
    var labelsCache = Kernels.cacheTracked(nodes.select(col("doc_id"), col("doc_id").as("label")))
    var labels = labelsCache
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 50) {
      val prop = sym.as("e")
        .join(labels.as("l"), col("e.doc_b") === col("l.doc_id"))
        .groupBy(col("e.doc_a").as("pid"))
        .agg(min(col("l.label")).as("nlabel"))
      // the change flag rides ON the row, so one action both populates
      // the round's cache and counts changes — no second join+count job
      // (col("label") inside the select is the INPUT label, i.e. the
      // previous round's — the alias doesn't shadow within one select)
      val stepped = Kernels.cacheTracked(
        labels.join(prop, col("doc_id") === col("pid"), "left")
          .select(col("doc_id"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
            (col("nlabel").isNotNull && col("nlabel") < col("label")).as("chg")))
      // pointer jump: label(x) ← min(label(x), label(label(x))). Pure
      // neighbor propagation converges in O(diameter) rounds — fine
      // for near-clique dup clusters (diameter ~2), but CHAIN-shaped
      // components (the mutual-kNN graph threads paths through
      // embedding space) made it crawl: the jump contracts label
      // chains geometrically, so convergence is O(log diameter). A
      // label is always a node id in the same component, so the
      // self-join lookup is total; the extra join is node-sized and
      // label-keyed.
      //
      // The round MUST end in a lineage cut, not just a cache: `next`
      // references `stepped` twice and `stepped` references `labels`
      // twice, so the LOGICAL plan grows ~4x per round, and cache()
      // does not truncate it — Catalyst re-analyzes the full tree on
      // every action, which goes exponential (2 GiB plan strings by
      // round ~10 — this hung the round-9 gates on the chain-shaped
      // kNN graph). The cut resets the plan to a leaf. Same discipline
      // as [[Graph.pageRank]], except every round because of the 4x
      // (vs pageRank's linear) growth rate.
      // eager = false: the convergence count below is the round's
      // first action and scans EVERY partition, so it both counts and
      // materializes the cut — one job per round instead of a cut job
      // followed by a count job (measured ~25% off the drain-time
      // blast-radius contraction, where per-round job overhead
      // dominates the tiny frames). The lazy cut also drops the
      // inherited plan statistics this self-join would square round
      // over round ([[Kernels.cut]]).
      val next = Kernels.cut(stepped.as("a")
        .join(stepped.select(col("doc_id").as("jid"), col("label").as("jlabel")).as("j"),
          col("a.label") === col("j.jid"), "left")
        .select(col("a.doc_id").as("doc_id"),
          least(col("a.label"), coalesce(col("jlabel"), col("a.label"))).as("label"),
          (col("a.chg") ||
            (col("jlabel").isNotNull && col("jlabel") < col("a.label"))).as("chg")),
        eager = false)
      changed = next.filter(col("chg")).count()
      stepped.unpersist(true)
      labelsCache.unpersist(true) // effective for the round-0 cache only
      Kernels.free(labelsCache)
      labelsCache = next
      labels = next.select(col("doc_id"), col("label"))
      iter += 1
      probe(iter, next.queryExecution.analyzed.collect { case n => n }.size, changed)
    }
    require(changed == 0, s"dedup_clusters did not converge within $iter rounds")
    val singletons = docs.select(col("doc_id"))
      .join(nodes, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("label"))
    labels.union(singletons)
      .select(col("doc_id"), col("label").as("cluster")) // callers order
  }

  val MinHashFns = 16
  val MinHashBands = 4
  val MinHashRows: Int = MinHashFns / MinHashBands // 4

  /** The per-doc signature loop: byte-level MD5 minima over the hash
    * family, hex-encoded.
    */
  private def sigOf(md: java.security.MessageDigest,
      prefixes: Array[Array[Byte]], sh: Seq[String]): Array[String] = {
    val hex = "0123456789abcdef".toCharArray
    val mins = Array.ofDim[Array[Byte]](MinHashFns)
    sh.foreach { s =>
      val sBytes = s.getBytes("UTF-8")
      var i = 0
      while (i < MinHashFns) {
        md.reset(); md.update(prefixes(i)); md.update(sBytes)
        val d = md.digest()
        if (mins(i) == null || java.util.Arrays.compareUnsigned(d, mins(i)) < 0)
          mins(i) = d
        i += 1
      }
    }
    mins.map { d =>
      val sb = new java.lang.StringBuilder(32)
      d.foreach(b => { sb.append(hex((b >> 4) & 0xf)); sb.append(hex(b & 0xf)) })
      sb.toString
    }
  }

  /** The MinHash signature kernel: replaces the `sh` shingle array with
    * its signature `sig`, carrying every other input column through —
    * a MAP-ONLY pass with one reused digest per partition, so no
    * shingle occurrence ever shuffles (the explode + 16×min(md5)
    * groupBy formulation shuffled every occurrence — at 100 TB that
    * exchange is the operator's bottleneck — and the declarative
    * 16×md5-per-shingle expression cost ~7 s at sf0.1 in the stream
    * probe where this loop costs under 2). Stateless, so legal in a
    * streaming plan. Digest minima compare as unsigned bytes, which
    * equals the fixed-width-hex string min the DuckDB oracle computes.
    * A shingle-less row gets a NULL signature: its band keys stay NULL
    * and never match, and [[minHashBands]] drops it.
    */
  private[graft] def minHashSig(df: DataFrame): DataFrame = {
    val shAt = df.schema.fieldIndex("sh")
    val carried = df.schema.indices.filter(_ != shAt)
    val out = StructType(carried.map(df.schema(_))).add("sig", ArrayType(StringType))
    df.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val prefixes = Array.tabulate(MinHashFns)(i => s"$i:".getBytes("UTF-8"))
      it.map { r =>
        val sh = r.getSeq[String](shAt)
        Row.fromSeq(carried.map(r.get) :+
          (if (sh.isEmpty) null else sigOf(md, prefixes, sh).toSeq))
      }
    }(Encoders.row(out))
  }

  /** Band `b`'s LSH key: its [[MinHashRows]] signature entries joined
    * by "|".
    */
  private[graft] def bandKey(b: Int): Column =
    concat_ws("|", (0 until MinHashRows).map(r =>
      element_at(col("sig"), MinHashRows * b + r + 1)): _*)

  /** One (band, bkey) struct per band, exploded into one row each. */
  private[graft] def bandRows: Column =
    explode(array((0 until MinHashBands).map(b =>
      struct(lit(b).as("band"), bandKey(b).as("bkey"))): _*))

  /** One (doc_id, carried…, band, bkey) row per band of every signed
    * doc: the LSH index rows both the full-corpus join and the
    * incremental band store are built from.
    */
  private def minHashBands(sigs: DataFrame, carried: String*): DataFrame = {
    val keep = ("doc_id" +: carried).map(col)
    sigs.filter(col("sig").isNotNull)
      .select(keep :+ bandRows.as("bk"): _*)
      .select(keep :+ col("bk.band").as("band") :+ col("bk.bkey").as("bkey"): _*)
  }

  /** The signing kernel of every MinHash ingest path: (doc_id, text,
    * carried…) → (doc_id, carried…, sig, shh, nsh) — the typed shingle
    * loop ([[withShingles]]), the sorted xxhash64 shingle set the
    * exact-Jaccard verify reads (`shh`, `nsh`) and the [[minHashSig]]
    * signature, NULL for a shingle-less doc. Map-only and stateless:
    * the batch queries run it over a fanned-out scan, the streams over
    * a repartitioned micro-batch.
    */
  private[graft] def signed(docs: DataFrame): DataFrame =
    minHashSig(withShingles(docs)
      .withColumn("shh", sort_array(transform(col("sh"), s => xxhash64(s))))
      .withColumn("nsh", size(col("sh"))))

  /** [[signed]]'s band rows: one (doc_id, band, bkey, shh, nsh) row per
    * band of every signed doc of (doc_id, text) — what the history band
    * store holds and what each incremental probe sends against it.
    */
  private[graft] def bandRowsOf(docs: DataFrame): DataFrame =
    minHashBands(signed(docs.select(col("doc_id"), col("text"))), "shh", "nsh")

  /** MinHash signature + banded LSH + exact-Jaccard verification.
    *
    * Hash family i: `md5(i ++ ":" ++ shingle)`; the signature component
    * is the minimum digest (fixed-width hex, so string-min == value-min).
    * Docs sharing any of the 4 bands (concatenated 4-component keys)
    * become candidates; candidates are verified with true Jaccard ≥ 0.3
    * over their shingle sets. At scale: signature computation is the
    * map-only [[minHashSig]] kernel; the LSH join touches only
    * band-collisions — the whole point vs. the O(n²) alternative.
    */
  def minHashLsh(spark: SparkSession, dir: String): DataFrame = {
    // shArr and bands each feed two join sides; cache so the shingle +
    // signature pipeline runs once, not four times (4x wall measured)
    val shArr = Kernels.cacheTracked(docShingles(spark, dir))
    val bands = Kernels.cacheTracked(minHashBands(minHashSig(shArr)))
    val cand = bands.as("x")
      .join(bands.as("y"), Seq("band", "bkey"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    verifyJaccard(shArr, cand).distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental NEAR-dup — the production shape of [[minHashLsh]],
    * completing [[incremental]] (exact-only) per its docstring: a new
    * ingest batch's MinHash bands probe the HISTORICAL band store, and
    * only band-collision candidates verify with exact Jaccard against
    * the colliding history doc — never a full-corpus pair generation.
    * Emitted: each (batch doc, history doc) near-dup pair with its
    * Jaccard; a pipeline anti-joins its batch against `batch_id` to
    * drop already-represented content (batch-internal near-dups are
    * [[minHashLsh]]'s job on the batch alone, orders of magnitude
    * smaller than the corpus).
    *
    * 100 TB shape: the batch/history split rides the scan (predicate on
    * doc_id only); the batch is shingled and signed by the map-only
    * kernel ([[bandRowsOf]]); the store side is the durable band store
    * ([[ensureBandStore]]) — in production a bucketed-by-bkey table
    * that only APPENDS each ingest; the probe join is batch-bands ×
    * store collisions only. History-history pairs are never generated —
    * the store is already deduplicated by construction.
    */
  def incrementalMinHash(spark: SparkSession, dir: String): DataFrame =
    minHashProbe(bandRowsOf(Kernels.fanOut(ingestSplit(Tables.documents(spark, dir)))),
      bandStore(spark, dir))
      .orderBy("batch_id", "hist_id")

  /** The band-store probe of [[incrementalMinHash]] and its stream
    * twin: batch band rows ([[bandRowsOf]]) equi-join the store's band
    * index on (band, bkey), and each candidate joins ONE verify payload
    * row of its history doc — every doc carries all [[MinHashBands]]
    * band rows, so `band = 0` selects exactly one, a pushed-down scan
    * predicate where a dropDuplicates(hist_id) would shuffle every
    * stored shingle array to throw 3 of 4 copies away — keeping exact
    * Jaccard ≥ 0.3. Multi-band collisions re-emit the same (pair,
    * jaccard); the fold is the streaming-legal `distinct` (jaccard is a
    * function of the pair, so min() is just the value).
    */
  private[graft] def minHashProbe(bands: DataFrame, store: DataFrame): DataFrame =
    bands
      .join(store.select("band", "bkey", "hist_id"), Seq("band", "bkey"))
      .join(store.filter(col("band") === 0).select("hist_id", "h_shh", "h_nsh"), Seq("hist_id"))
      .select(col("doc_id").as("batch_id"), col("hist_id"),
        jaccard(bands.sparkSession, col("shh"), col("nsh"), col("h_shh"), col("h_nsh"))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .groupBy("batch_id", "hist_id")
      .agg(min("jaccard").as("jaccard"))

  /** Exact Jaccard, rounded to 6dp as the oracle rounds it, of two
    * sorted hashed shingle sets with their sizes: a batch doc's
    * (`shh`, `nsh`) against a stored history doc's.
    */
  private[graft] def jaccard(spark: SparkSession, shh: Column, nsh: Column,
      hShh: Column, hNsh: Column): Column = {
    val common = graft.functions.VectorFunctions.overlap(spark, shh, hShh).cast("double")
    round(common / ((nsh + hNsh).cast("double") - common), 6)
  }

  /** The history's MinHash band store (hist_id, band, bkey, h_shh,
    * h_nsh), read from its durable artifact ([[ensureBandStore]]).
    */
  private[graft] def bandStore(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, ensureBandStore(spark, dir))

  /** The band store MATERIALIZED to a fingerprinted durable artifact,
    * built once per (corpus, JVM) — what "in production a
    * pre-materialized table that only appends per ingest" means, made
    * real: every incremental MinHash probe, batch and stream, reads the
    * artifact instead of re-deriving the history shingle + signature
    * pipeline on every call.
    */
  private[graft] def ensureBandStore(spark: SparkSession, dir: String): String =
    Kernels.buildStore("graft-band-store", Kernels.inputKey(dir, "documents.parquet"))(
      // layout follows the probes (guide §6), at every scale:
      //  - directory-partitioned by `band`, so the per-band probes
      //    (the drain's band-index join, the verify join's
      //    `band = 0` payload slice, the ingest stream's four
      //    band anti-joins) prune to their band's directory
      //    instead of row-group-filtering the whole store;
      //  - `maxRecordsPerFile` caps files at 16Ki rows — with
      //    production shingle arrays (KBs/row) that is the
      //     128 MB–1 GB file band §6 targets, and at every SF it
      //    makes the scan width FOLLOW the store's row count
      //    (the single-file store at gate SFs serialized every
      //    probe into 1-2 tasks).
      historyBandStore(spark, dir).write.mode("overwrite")
        .partitionBy("band")
        .option("maxRecordsPerFile", 16384)
        .parquet(_))

  private[graft] def historyBandStore(spark: SparkSession, dir: String): DataFrame =
    bandRowsOf(Kernels.fanOut(Tables.documents(spark, dir)
        .filter(!isBatch(col("doc_id"))).select(col("doc_id"), col("text"))))
      .select(col("doc_id").as("hist_id"), col("band"), col("bkey"),
        col("shh").as("h_shh"), col("nsh").as("h_nsh"))

  /** The capped celled embedding index (vec_id, cluster, sub, v, norm)
    * — the trained cells + [[capCells]] sub-split + precomputed norms,
    * i.e. exactly the per-vector state a production celled index table
    * holds (the [[graft.operators.ProductQuant.buildIndex]] layout
    * plus the float payload). Served from the fingerprinted durable
    * artifact ([[ensureCelledIndexStore]]): every consumer — the
    * semantic dedup pair joins, the whole kNN-graph family, the
    * streaming probes — reads a BARE SCAN; the Lloyd training + banded
    * cap/split runs once per (corpus, JVM), the production "write
    * once, every consumer reads" contract (the keep-list / band-store
    * precedent; the reference's own intermediate-file design).
    */
  private[graft] def cappedCelledIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, ensureCelledIndexStore(spark, dir))

  /** The celled index materialized to a fingerprinted durable
    * artifact, one build per (corpus, JVM). Keyed to the FULL
    * `embeddings.parquet` fingerprint — NOT a pre-batch slice — which
    * is load-bearing for the maintainers: [[graft.operators.Graph]]'s
    * history artifacts filter to history rows AFTER celling (the
    * snapshot-projection contract at [[graft.operators.Graph.knnMaintain]]),
    * so `sub` boundaries must reflect the batch-inclusive snapshot for
    * the untouched-cell carry-over to stay valid. Session memos cannot
    * amortize this across gate queries ([[retireCaches]] kills them
    * per query); only the disk store does.
    */
  private[graft] def ensureCelledIndexStore(spark: SparkSession, dir: String): String = {
    val (table, fp) = Kernels.inputKey(dir, "embeddings.parquet")
    Kernels.buildStore("graft-celled-idx", (s"$table|cap$SemCellCap", fp))(
      celledIndexFrame(spark, dir).write.mode("overwrite").parquet(_))
  }

  /** The inline derivation behind [[ensureCelledIndexStore]] — the
    * memoized Lloyd assignment through [[capCells]] at [[SemCellCap]]
    * plus precomputed norms. Specs gate this construction directly
    * (the capped-vs-uncapped differential, the banded-rank
    * collect-proof); production queries read the store.
    */
  private[graft] def celledIndexFrame(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    capCells(KMeansCodebook.lastAssignment(spark, dir), SemCellCap)
      .withColumn("norm", sqrt(dot(spark, col("v"), col("v"))))
  }

  val SimHashBits = 64

  /** 64-bit SimHash per document over token md5s, emitted as a
    * '0'/'1' bit string (portable across engines — no int64 overflow
    * games). Bit b comes from bit b of the token's md5 read MSB-first
    * (equivalently: hex digit b/4, mask 8>>(b%4) — the formulation the
    * DuckDB oracle uses); the bit is set iff the occurrence-weighted
    * vote is ≥ 0.
    *
    * Runs as a map-only typed kernel: one pass per partition, md5s
    * memoized per distinct token (vocabularies are tiny relative to
    * occurrences), NO shuffle at all — at 100 TB this is embarrassingly
    * parallel, vs. the naive explode-tokens-×-64-aggregates plan whose
    * shuffle carries every token occurrence.
    */
  def simHash(spark: SparkSession, dir: String): DataFrame =
    simHashSignatures(spark, dir).orderBy("doc_id")

  /** The signature kernel without [[simHash]]'s output ORDER BY, so
    * [[simHashPairs]] does not pay a full range-shuffle + sort it
    * immediately discards.
    */
  private def simHashSignatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Kernels.fanOut(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))) // see docShingles
      .as[(Long, String)]
      .mapPartitions { it =>
        val re = java.util.regex.Pattern.compile("[^\\p{L}]+")
        val md = java.security.MessageDigest.getInstance("MD5")
        val bitCache = scala.collection.mutable.HashMap.empty[String, Array[Int]]
        it.flatMap { case (id, text) =>
          val toks = re.split(text.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
          if (toks.isEmpty) Iterator.empty // docs with no tokens emit no signature
          else {
            val votes = new Array[Long](SimHashBits)
            toks.foreach { t =>
              val bits = bitCache.getOrElseUpdate(t, {
                val d = md.digest(t.getBytes("UTF-8"))
                Array.tabulate(SimHashBits)(b =>
                  if ((d(b / 8) & (0x80 >> (b % 8))) != 0) 1 else -1)
              })
              var b = 0
              while (b < SimHashBits) { votes(b) += bits(b); b += 1 }
            }
            val sb = new java.lang.StringBuilder(SimHashBits)
            votes.foreach(v => sb.append(if (v >= 0) '1' else '0'))
            Iterator.single((id, sb.toString))
          }
        }
      }
      .toDF("doc_id", "simhash")
  }

  val CosineDupThreshold = 0.4

  /** Embedding near-dup pairs: cosine ≥ 0.4 over the 64-dim vectors.
    * This is the *exact* O(n²) baseline, kept for small candidate sets
    * and as the verifier behind [[Similarity.annIvf]]'s bucketed scale
    * path. Math in double throughout; both engines widen float32
    * identically, and results are rounded before the threshold so the
    * comparison is stable.
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    // fan-out: the single-file scan would otherwise leave the whole
    // O(n^2) nested-loop join on one task
    val emb = Kernels.fanOut(
        Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
      .withColumn("norm", sqrt(dot(spark, col("v"), col("v"))))
    emb.as("a")
      .join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(dot(spark, col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= CosineDupThreshold)
      .orderBy("vec_a", "vec_b")
  }

  /** Max members a SemDeDup cell may contribute to one within-cell
    * pair join. Real embedding corpora have heavy-tailed cluster
    * sizes — one hot cell would make the "quadratic only within
    * cells" claim quadratic in that cell — so cells above the cap are
    * deterministically split (the Abbas et al. cap-or-split practice).
    * 200 binds on the sf0.1 bench corpus (2000 vectors / 8 cells ≈ 250
    * per cell — differentially verified against the oracle there), is
    * inactive at the smaller tiers (cells ≈ 62, so the recall-floor
    * spec still measures the uncapped co-clustering rate), and the
    * synthetic hot-cluster spec pins the exact bound either way.
    */
  val SemCellCap = 200

  /** Number of hash-prefix bands [[capCells]] splits each cell into
    * before ranking — 2^16 via the first 4 hex chars of the member
    * hash. Uniform by md5, so a cell of n members puts ~n/65536 rows
    * in each in-band rank partition; the per-cell band-offset window
    * runs over at most 65536 aggregate rows per cell, a fixed
    * constant. Both levels stay bounded no matter how large one cell
    * grows.
    */
  private[graft] val CapCellBandHexChars = 4

  /** Deterministic cap/split for [[semanticNearDup]]: members of each
    * cell are ranked by a salted md5 of their id (ties to the id —
    * the [[KMeansCodebook.clusterBalancedSample]] ordering contract,
    * so the split is uncorrelated with id assignment order) and the
    * ranked run is cut into sub-cells of at most `cap` members. Unlike
    * a hash split, the rank split makes the bound EXACT — no sub-cell
    * ever exceeds `cap`, so candidate pairs per (cell, sub) are ≤
    * C(cap, 2) by construction (spec-asserted on a synthetic hot
    * cluster).
    *
    * The rank is computed WITHOUT a per-cell corpus window — real
    * embedding corpora are heavy-tailed (a boilerplate cell can hold a
    * double-digit share of the corpus), and `row_number() OVER
    * (PARTITION BY cluster)` would funnel that whole cell through one
    * task just to split it. This is the two-level banded formulation
    * ([[Relational.ordersPercentileRank]]'s construction, specialized
    * to a uniform hash key): band each member by the first
    * [[CapCellBandHexChars]] hex chars of its hash — a PREFIX of the
    * rank key, so band order refines (h, vec_id) order exactly;
    * per-(cell, band) counts give each band's exclusive before-count
    * via a window over the tiny band aggregate; the in-band
    * `row_number` runs per (cell, band) — ~n/2^16 rows per partition —
    * and `rank = pre + in_rank` is the identical global rank, so
    * `sub = (rank - 1) div cap` reproduces the single-window split
    * bit-for-bit (the oracle replays the plain-window form; the
    * differential is plan-audited AND collect-proved in
    * `PlanAuditSpec`). The band aggregate is checkpointed: it feeds
    * the offsets join and would otherwise re-run its corpus pass per
    * downstream reference (the self-join consumes capCells twice).
    */
  private[graft] def capCells(assignment: DataFrame, cap: Int): DataFrame = {
    val withH = assignment
      .withColumn("h", md5(concat(lit("sd:"), col("vec_id").cast("string"))))
      .withColumn("band",
        conv(substring(col("h"), 1, CapCellBandHexChars), 16, 10).cast("long"))
    val offs = Kernels.cut(
      withH.groupBy("cluster", "band").agg(count(lit(1)).as("bc"))
        .withColumn("pre", coalesce(
          sum("bc").over(Window.partitionBy("cluster").orderBy("band")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("cluster"), col("band"), col("pre")))
    val wIn = Window.partitionBy("cluster", "band").orderBy(col("h"), col("vec_id"))
    // plain equi-join on (cluster, band) — same INPUT CONTRACT as the
    // Events chunk joins: a null vec_id (→ null md5 → null band) or
    // null cluster would silently drop here where the single-window
    // form kept a null partition. Non-null by construction for every
    // caller (the k-means assignment mints cluster for every row and
    // vec_id is the table key) — spec-pinned by the assignment
    // non-null canary in PlanAuditSpec next to the banded-rank proof.
    withH.join(offs, Seq("cluster", "band"))
      .withColumn("rnk", col("pre") + row_number().over(wIn))
      // integer div, not floor(double /): exact at any rank magnitude
      .withColumn("sub", expr(s"(rnk - 1) div $cap"))
      // the join reordered columns (join keys lead) — restore the
      // caller's layout with sub appended, the plain-window contract
      .select(assignment.columns.map(col) :+ col("sub"): _*)
  }

  /** `dedup_semantic`: SemDeDup-style near-dup — all-pairs cosine
    * restricted to WITHIN each trained k-means cluster (Abbas et al.
    * 2023: semantic duplicates co-locate in embedding-space cells, so
    * the quadratic search runs per cell, never across the corpus).
    * This is the TRAINED-structure complement of
    * [[embeddingNearDupLsh]]'s data-independent hyperplane buckets:
    * the same candidate-bounding idea, but cells adapt to the corpus
    * (SemDeDup runs ~11k clusters over LAION; here [[KMeansCodebook.K]]
    * cells over the test corpus). Reads the durable celled store
    * ([[ensureCelledIndexStore]]) — training and the banded cap/split
    * are shared with the whole kNN family, so the marginal cost is
    * one in-cell pair join over a bare parquet scan. Recall vs the exact all-pairs verifier is the
    * co-clustering rate of true near-dups (spec-pinned); the oracle
    * replays the cells bit-for-bit, so the gate checks the bucketing
    * contract, recall being [[embeddingNearDup]]'s job. Oversized
    * cells are deterministically split to [[SemCellCap]] members via
    * [[capCells]] before the pair join, so no single hot cell can turn
    * the within-cell search quadratic in the cell.
    */
  def semanticNearDup(spark: SparkSession, dir: String): DataFrame =
    // production cap = SemCellCap: read the celled store (built once
    // per corpus, shared with the kNN family) instead of re-deriving
    // the Lloyd assignment + banded split inline per query
    semanticPairs(spark, cappedCelledIndex(spark, dir))

  /** Cap-parameterized body of [[semanticNearDup]] — the production
    * query fixes cap = [[SemCellCap]]; `SemDedupCapSpec` runs this with
    * a cap that BINDS at test scale (cells ≈ 62 > cap = 20) against the
    * uncapped twin to measure the split's actual recall cost, which the
    * production-tier recall-floor spec alone cannot see (the cap is
    * inactive at sf0.001's cell sizes). Measured there: capped pairs
    * are a strict subset of uncapped (the split only ever REMOVES
    * candidate pairs — soundness by construction) retaining ~30% of
    * within-cell pairs at cap/cellsize ≈ 0.32, i.e. recall loss tracks
    * the uniform-split expectation Σ C(cap,2)/C(n,2), not worse — the
    * salted-rank split is uncorrelated with similarity.
    */
  private[graft] def semanticNearDupCapped(
      spark: SparkSession, dir: String, cap: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot
    semanticPairs(spark,
      capCells(KMeansCodebook.lastAssignment(spark, dir), cap)
        .withColumn("norm", sqrt(dot(spark, col("v"), col("v")))))
  }

  /** The within-(cell, sub) pair join + exact-cosine verify both
    * semantic entry points share: `a` is a celled index frame
    * (vec_id, cluster, v, sub, norm) — the durable store for the
    * production query, the inline derivation for the cap-differential
    * spec.
    */
  private def semanticPairs(spark: SparkSession, a: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.dot
    a.as("a")
      .join(a.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.sub") === col("b.sub") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cluster").as("cluster"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(dot(spark, col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= CosineDupThreshold)
      .orderBy("vec_a", "vec_b")
  }

  /** `dedup_incremental_semantic`: the SemDeDup ingest shape,
    * completing the incremental family (exact / minhash / simhash /
    * semantic all have batch-vs-history twins): a NEW batch of
    * embeddings (the shared `inc:` hash split, on vec_id) is checked
    * against the HISTORICAL corpus within trained cells only — batch
    * vectors join history vectors in the same (cell, sub-cell), exact
    * cosine ≥ [[CosineDupThreshold]] verifies. The trained cells are a
    * stored artifact of the historical index (the memoized Lloyd
    * assignment stands in for the production celled table — codebooks
    * are NOT retrained per ingest, new vectors are assigned map-side);
    * [[capCells]] bounds the per-cell candidate count exactly as in
    * the full [[semanticNearDup]]. Sides are disjoint by split, so no
    * id ordering is needed; emitted pairs mirror
    * [[incrementalMinHash]]'s (batch_id, hist_id, score) shape.
    */
  def incrementalSemantic(spark: SparkSession, dir: String): DataFrame = {
    val idx = cappedCelledIndex(spark, dir)
    semanticProbe(idx.filter(isBatch(col("vec_id"))), idx).orderBy("batch_id", "hist_id")
  }

  /** The body of [[incrementalSemantic]] and its stream twin: batch
    * rows of the celled index (vec_id, cluster, sub, v, norm) join the
    * history rows of `idx` in the same (cluster, sub) and keep exact
    * cosine ≥ [[CosineDupThreshold]].
    */
  private[graft] def semanticProbe(batch: DataFrame, idx: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.dot
    batch.as("a")
      .join(idx.filter(!isBatch(col("vec_id"))).as("b"),
        col("a.cluster") === col("b.cluster") && col("a.sub") === col("b.sub"))
      .select(col("a.vec_id").as("batch_id"), col("b.vec_id").as("hist_id"),
        round(dot(batch.sparkSession, col("a.v"), col("b.v")) /
          (col("a.norm") * col("b.norm")), 6).as("cosine"))
      .filter(col("cosine") >= CosineDupThreshold)
  }

  val HyperplaneBits = 16
  val HyperplaneBands = 4
  val HyperplaneRows: Int = HyperplaneBits / HyperplaneBands // 4
  val EmbeddingDim = 64

  /** ±1 hyperplane weights for sign-random-projection LSH (Charikar,
    * STOC 2002: P[sign match] = 1 − θ/π). Derived from md5 of "h:d" so
    * they are deterministic and engine-independent; they are inlined as
    * LITERAL constants into both the Spark plan and the DuckDB oracle
    * SQL, so both engines band identically.
    */
  lazy val hyperplanes: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(HyperplaneBits, EmbeddingDim) { (h, d) =>
      if ((md.digest(s"$h:$d".getBytes("UTF-8"))(0) & 1) == 0) 1.0 else -1.0
    }
  }

  /** Bucketed embedding near-dup: random-hyperplane LSH + exact cosine
    * verify — the scale path that replaces [[embeddingNearDup]]'s
    * all-pairs nested-loop join (kept as the small-scale verifier, the
    * same relationship [[ngramJaccard]] has to [[minHashLsh]]).
    *
    * Signature bit h = sign(v · w_h) with fixed ±1 hyperplanes; the 16
    * bits form 4 bands of 4; only vectors agreeing on a full band become
    * candidates, then exact cosine ≥ 0.4 filters. At 100 TB: signatures
    * are a map-only pass over the corpus (the codegen'd `graft_dot`
    * against constant arrays), the join touches only band-bucket
    * collisions, and no pair of non-colliding vectors is ever
    * materialized. Recall is the SRP-LSH curve (θ(0.4) ≈ 66°, per-bit
    * agreement ≈ 0.63, pair recall 1−(1−0.63⁴)⁴ ≈ 0.50 at the
    * threshold, higher for closer pairs); the oracle replicates the
    * banding bit-for-bit so the gate checks the LSH contract, not
    * exhaustive recall — that is [[embeddingNearDup]]'s job.
    */
  def embeddingNearDupLsh(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val emb = Kernels.cacheTracked(
      Kernels.fanOut(
        Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
        .withColumn("norm", sqrt(dot(spark, col("v"), col("v")))))
    val bitCols = hyperplanes.map { w =>
      when(dot(spark, col("v"), array(w.map(lit(_)): _*)) >= 0, lit("1"))
        .otherwise(lit("0"))
    }
    val bandStructs = (0 until HyperplaneBands).map { b =>
      struct(lit(b).as("band"),
        concat((0 until HyperplaneRows).map(r => bitCols(HyperplaneRows * b + r)): _*)
          .as("bkey"))
    }
    // band rows CARRY the vector + norm: the cosine verify runs inline in
    // the candidate join's projection (codegen'd graft_dot), so a bucket
    // collision costs one dot product and the distinct/shuffle happens
    // only on verified survivors — no join-back, no all-candidate
    // distinct (which dominated at 4-bit band fan-in)
    val bands = emb
      .select(col("vec_id"), col("v"), col("norm"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("vec_id"), col("v"), col("norm"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    // two-step projection so the dot product is evaluated once, not
    // re-inlined into the pushed-down threshold filter (no-CSE trap)
    bands.as("x")
      .join(bands.as("y"), Seq("band", "bkey"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        dot(spark, col("x.v"), col("y.v")).as("d"),
        (col("x.norm") * col("y.norm")).as("np"))
      .select(col("vec_a"), col("vec_b"), round(col("d") / col("np"), 6).as("cosine"))
      .filter(col("cosine") >= CosineDupThreshold)
      .distinct()
      .orderBy("vec_a", "vec_b")
  }

  val SimHashBands = 4
  val SimHashBandBits: Int = SimHashBits / SimHashBands // 16
  /** Pigeonhole: ≤ 3 differing bits spread over 4 bands leave at least
    * one band identical — band-collision candidates are LOSSLESS up to
    * this Hamming radius.
    */
  val SimHashMaxHamming: Int = SimHashBands - 1

  /** SimHash near-dup pairs, completing [[simHash]] (a fingerprinter)
    * into a dedup: band the 64-bit signature into 4×16-bit keys, join on
    * band equality, verify with exact Hamming distance ≤ 3. The band
    * join is exhaustive for the radius (pigeonhole above), so unlike the
    * LSH operators this one is EXACT over the signature space — the
    * approximation lives entirely in simhash itself.
    *
    * Skew reality: natural-text simhash bits are globally BIASED (each
    * bit is a majority vote over a shared token distribution), so band
    * buckets are hot — an 8-bit-band variant of this operator measured
    * tens of millions of candidates at sf0.1. Two defenses here: 16-bit
    * bands (full-band agreement is 2¹⁶-sparse), and the Hamming verify
    * runs INLINE in the join projection (`bit_count(xor)` over two
    * 32-bit halves carried on the band rows, whole-stage codegen) so a
    * candidate costs a few instructions and the expensive
    * distinct/shuffle happens only on verified survivors. At 100 TB the
    * residual hot-bucket risk is AQE skew-join + salting on the band
    * key, not a different algorithm.
    */
  def simHashPairs(spark: SparkSession, dir: String): DataFrame = {
    val bands = simHashBandRows(spark, dir, withSplit = false)
    val hamming = (bit_count(col("x.h1").bitwiseXOR(col("y.h1")))
      + bit_count(col("x.h2").bitwiseXOR(col("y.h2")))).cast("long")
    bands.as("x")
      .join(bands.as("y"), Seq("band", "bkey"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .filter(col("hamming") <= SimHashMaxHamming)
      .distinct() // only verified survivors shuffle for the cross-band dedup
      .orderBy("doc_a", "doc_b")
  }

  /** Exploded (doc_id, h1, h2[, split], band, bkey) band rows shared by
    * [[simHashPairs]] and [[incrementalSimHash]]. Signature halves ride
    * as longs so Hamming is `bit_count(xor)` — codegen, no arrays; the
    * signature frame is cacheTracked (feeds both self-join sides).
    */
  private def simHashBandRows(
      spark: SparkSession, dir: String, withSplit: Boolean): DataFrame = {
    val base = simHashSignatures(spark, dir)
      .withColumn("h1", conv(substring(col("simhash"), 1, 32), 2, 10).cast("long"))
      .withColumn("h2", conv(substring(col("simhash"), 33, 32), 2, 10).cast("long"))
    val sigs = Kernels.cacheTracked(
      if (withSplit) base.withColumn("split", split(col("doc_id"))) else base)
    val bandStructs = (0 until SimHashBands).map { b =>
      struct(lit(b).as("band"),
        substring(col("simhash"), b * SimHashBandBits + 1, SimHashBandBits).as("bkey"))
    }
    val carried = Seq(col("doc_id"), col("h1"), col("h2")) ++
      (if (withSplit) Seq(col("split")) else Nil)
    sigs
      .select(carried :+ explode(array(bandStructs: _*)).as("bk"): _*)
      .select(carried :+ col("bk.band").as("band") :+ col("bk.bkey").as("bkey"): _*)
  }

  /** Incremental SimHash near-dup — [[simHashPairs]]'s band probe in
    * the batch-vs-store topology of [[incremental]], completing the
    * incremental family (exact / MinHash / SimHash): the new batch's
    * 4×16-bit band keys probe the historical band store, and colliding
    * pairs verify with the inline `bit_count(xor)` Hamming ≤
    * [[SimHashMaxHamming]]. The probe is LOSSLESS for the radius by
    * the same pigeonhole as [[simHashPairs]], which is why the oracle
    * can replay it as an all-pairs batch×history filter and still
    * hash-match. 100 TB shape: signatures map-only on each side of the
    * scan-riding split; the store is in production an append-only
    * (band, bkey) → (doc, sig-halves) table bucketed by band key;
    * history-history pairs are never generated.
    */
  def incrementalSimHash(spark: SparkSession, dir: String): DataFrame = {
    val bands = simHashBandRows(spark, dir, withSplit = true)
    val hamming = (bit_count(col("x.h1").bitwiseXOR(col("y.h1")))
      + bit_count(col("x.h2").bitwiseXOR(col("y.h2")))).cast("long")
    bands.filter(col("split") < IncBatchThreshold).as("x")
      .join(bands.filter(col("split") >= IncBatchThreshold).as("y"), Seq("band", "bkey"))
      .select(col("x.doc_id").as("batch_id"), col("y.doc_id").as("hist_id"),
        hamming.as("hamming"))
      .filter(col("hamming") <= SimHashMaxHamming)
      .distinct()
      .orderBy("batch_id", "hist_id")
  }
}
