package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Full-text retrieval over the `documents` table (north star; the
  * reference has no retrieval operators — its closest surface is the
  * inverted-index app, `mrapps/indexer.go`, which this extends from
  * "who contains the word" to "who best matches the query").
  *
  * Retrieval is a first-class training-data-pipeline operator: ranked
  * lookup of corpus documents for a query set drives decontamination
  * triage (what does the corpus contain that looks like this benchmark
  * item?), targeted quality audits, and retrieval-augmented data
  * selection.
  */
object Retrieval {

  /** Standard BM25 hyperparameters (the Robertson/Lucene defaults). */
  val K1 = 1.2
  val B = 0.75
  val BmTopK = 10

  /** The fixed benchmark query set — literal on BOTH engines, so the
    * oracle replays the exact same lookups.
    */
  val Queries: Seq[(Long, String)] = Seq(
    1L -> "spark stream window",
    2L -> "hash join table",
    3L -> "fast vector scan",
    4L -> "customer order query",
    5L -> "slow batch merge")

  /** `bm25_search`: top-[[BmTopK]] documents per query by BM25.
    *
    * 100 TB shape — the corpus is tokenized and shuffled EXACTLY ONCE,
    * into the (doc, term, tf) posting frame. Document length is free:
    * `size(tokens)` is computed map-side in the same tokenize pass and
    * carried through the tf aggregate as part of the (functionally
    * dependent) group key, so it costs zero extra exchanges. Document
    * frequency never touches a window: per doc, the DISTINCT matched
    * terms come from a map-side `array_distinct` (one row per (doc,
    * query-vocab term) — exactly the corpus df's support set), and a
    * partial-aggregated `groupBy(term).count()` reduces each map task
    * to ≤ |query vocab| rows BEFORE the exchange, so a stopword query
    * term costs pre-counted partials, never one task materializing its
    * whole posting list (the `count(*) OVER (PARTITION BY term)`
    * failure shape — WindowExec buffers a partition in ONE task and,
    * unlike a skewed join, AQE cannot split it). The query-vocab-sized
    * df table then broadcast-joins back onto the matched postings. N
    * and the average length are a 1-row broadcast from one map-only
    * re-scan of the text (an extra tokenize pass, but caching the
    * corpus-sized posting frame to save it would pin corpus-scale
    * memory — the [[Corpus.bigramPmi]] trade, decided the same way).
    * The per-query cut rides the bounded `graft_topk` aggregate, never
    * a rank window. In production the posting frame is the thing you
    * materialize (bucketed by term) and this query is a broadcast-probe
    * of it; scores round to 6dp before ranking so the cut never hinges
    * on sub-1e-6 libm differences between engines.
    */
  def bm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25Search(spark, dir, Queries)

  /** Query-set-parameterized form; scores for a query must not depend on
    * what OTHER queries are in the set (df is a corpus statistic), which
    * `RetrievalSpec` pins by running overlapping query sets.
    */
  def bm25Search(spark: SparkSession, dir: String,
      queries: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // lowercased tokens: queries are lowercase literals, and retrieval
    // must match 'Spark' to 'spark' — the one surface where case-folding
    // matters most (the LM scorers fold for the same reason)
    val tf = docs
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    val stats = docs
      .select(size(TextAnalysis.tokens(lower(col("text")))).cast("long").as("n"))
      .agg(count(lit(1)).as("n_docs"), sum("n").as("total_tokens"))
    val qterms = queries
      .flatMap { case (qid, q) => q.split(" ").map(t => (qid, t)) }
      .toDF("query_id", "term")
    val qvocab = qterms.select("term").distinct()
    // df over the DISTINCT query vocabulary only (the semi-join drops
    // no postings of a kept term, so the matched per-term count equals
    // the corpus df exactly; joining the (query_id, term) frame before
    // counting would duplicate each posting row once per query that
    // shares the term — silent idf corruption whenever two queries
    // overlap). `array_distinct` map-side gives one row per (doc,
    // term) — df's exact support set — with NO posting shuffle, and the
    // count partial-aggregates to ≤ |query vocab| rows per map task.
    val dfT = docs
      .select(explode(array_distinct(
        TextAnalysis.tokens(lower(col("text"))))).as("term"))
      .join(broadcast(qvocab), Seq("term"), "leftsemi")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val matched = tf
      .join(broadcast(qvocab), Seq("term"), "leftsemi")
      .join(broadcast(dfT), "term")
    bm25Score(matched, stats, qterms)
  }

  /** The BM25 scoring tail over an already-matched posting frame
    * (doc_id, dl, term, tf, df) — shared verbatim by the corpus path,
    * the artifact serve path and the STREAM-MAINTAINED index
    * ([[graft.streaming.DocStream.streamSearchIndex]]), so
    * "served == computed" is a property of the data, not of N formula
    * copies staying in sync.
    */
  private[graft] def bm25Score(matched: DataFrame, stats: DataFrame,
      qterms: DataFrame): DataFrame = {
    val enriched = matched.join(broadcast(qterms), "term")
    val avgdl = col("total_tokens").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm = col("tf").cast("double") * (K1 + 1) /
      (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / avgdl))
    // per-term contributions round to 9dp and sum as DECIMAL: the
    // per-term value is a single deterministic expression (identical
    // doubles on both engines), and the decimal sum is order-exact —
    // a double sum's result depends on aggregation order, which Spark
    // does not fix across partitionings
    val scores = enriched
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        round(idf * tfNorm, 9).cast("decimal(18,9)").as("contrib"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum("contrib").cast("double"), 6).as("score"))
    // the per-query cut rides the bounded `graft_topk` aggregate (the
    // [[maxSimSearch]] contract): a high-df query term makes a query's
    // matched-doc set O(corpus), and the old rank window shuffled ALL
    // of it into one partition to sort; the aggregate partial-reduces
    // map-side to ≤ k docs per query before the exchange
    topKDocs(scores)
  }

  /** The per-query top-[[BmTopK]] cut over a scored (query_id, doc_id,
    * score) frame — shared by every lexical ranking tail (BM25,
    * tf·idf, and their served twins through those tails): `graft_topk`
    * with the window formulation's exact order (score DESC, doc_id
    * ASC), never a `row_number` window over the candidate set.
    */
  private def topKDocs(scores: DataFrame): DataFrame = {
    import graft.functions.TopKFunctions.topK
    scores
      .groupBy("query_id")
      .agg(topK(scores.sparkSession, col("score"), col("doc_id"), lit(BmTopK))
        .as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** `tfidf_search`: the classic vector-space ranker — cosine between
    * the query's and each document's tf·idf vectors (idf = ln(N/df)) —
    * the second retrieval signal a hybrid stack fuses with BM25
    * ([[rrfFusion]]): it normalizes by the document's FULL weighted
    * length where BM25 only dampens by raw length, so the two disagree
    * exactly on long documents that match narrowly vs short ones that
    * match densely.
    *
    * 100 TB shape vs [[bm25Search]]: cosine needs two genuine CORPUS
    * statistics — every term's df and every document's weighted norm —
    * which no query-time semi-join can shrink. df comes from a map-side
    * `array_distinct` pass (one row per (doc, term) — df's exact
    * support set) folded by a partial-aggregated `groupBy(term)
    * .count()`: a stopword term arrives at its reducer as ≤ |map tasks|
    * pre-counted partials, never as one task buffering its whole
    * posting list (the `count(*) OVER (PARTITION BY term)` shape this
    * replaced — WindowExec holds a partition in ONE task and AQE cannot
    * split it the way it splits a skewed join). The vocab-sized df
    * table joins back onto the postings — auto-broadcast when it fits,
    * an AQE-skew-splittable equi-join when it doesn't — and the norms
    * are one combiner-friendly groupBy(doc). In production both
    * statistics are materialized once per corpus build next to the
    * posting frame ([[writeSearchIndex]] stores exactly these tables;
    * [[tfidfSearchServed]] is the read path) and this query is, like
    * BM25, a broadcast probe. Scoring itself touches only query-matched
    * postings. Determinism: weights are single deterministic double
    * expressions; every sum (norms, dots) runs over 9dp-rounded DECIMAL
    * contributions so aggregation order can't move the 6dp-rounded
    * score.
    */
  def tfidfSearch(spark: SparkSession, dir: String): DataFrame =
    tfidfSearch(spark, dir, Queries)

  def tfidfSearch(spark: SparkSession, dir: String,
      queries: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val stats = docs.agg(count(lit(1)).as("n_docs"))
    // df is corpus-wide by definition here (the norm needs every term's
    // weight, not just query terms') — the map-only distinct-terms pass
    // + partial-aggregated count IS the materialized df table of a
    // production deployment ([[writeSearchIndex]]'s `df` product)
    val dfT = docs
      .select(explode(array_distinct(
        TextAnalysis.tokens(lower(col("text"))))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val w = tf
      .join(dfT, "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df"))).as("w"),
        col("df"), col("n_docs"))
    val dNorm = w.groupBy("doc_id")
      .agg(round(sqrt(sum(round(col("w") * col("w"), 9).cast("decimal(18,9)"))
        .cast("double")), 6).as("nrm"))
    val qtf = queries
      .flatMap { case (qid, q) => q.split(" ").map(t => (qid, t)) }
      .groupBy(identity).map { case ((qid, t), g) => (qid, t, g.size.toLong) }
      .toSeq.toDF("query_id", "term", "tfq")
    // query-term df is a vocab-sized slice of the corpus df table —
    // terms absent from the corpus have no defined idf and contribute
    // to neither dot nor norm (the inner-join convention downstream)
    val qdf = dfT
      .join(broadcast(qtf.select("term").distinct()), Seq("term"), "leftsemi")
    tfidfScore(w, dNorm, qtf, qdf, stats)
  }

  /** The VSM scoring tail over (weighted postings, doc norms, query
    * tf, query-term df, stats) — shared verbatim by the corpus path
    * and the artifact serve path.
    */
  private def tfidfScore(w: DataFrame, dNorm: DataFrame, qtf: DataFrame,
      qdf: DataFrame, stats: DataFrame): DataFrame = {
    val qw = qdf
      .join(broadcast(qtf), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("term"),
        (col("tfq").cast("double") *
          log(col("n_docs").cast("double") / col("df"))).as("qw"))
    val qNorm = qw.groupBy("query_id")
      .agg(round(sqrt(sum(round(col("qw") * col("qw"), 9).cast("decimal(18,9)"))
        .cast("double")), 6).as("qnrm"))
    val dot = w.join(broadcast(qw), "term")
      .groupBy("query_id", "doc_id")
      .agg(sum(round(col("qw") * col("w"), 9).cast("decimal(18,9)"))
        .cast("double").as("dot"))
    // graft_topk cut, not a rank window — see [[topKDocs]]
    topKDocs(dot
      .join(broadcast(qNorm), "query_id")
      .join(dNorm, "doc_id") // dot side is query-sized: it broadcasts
      .select(col("query_id"), col("doc_id"),
        round(col("dot") / (col("nrm") * col("qnrm")), 6).as("score")))
  }

  /** Per-token vector width for [[maxSimSearch]]'s deterministic token
    * encoder: 8 dims from the md5 of the token, each byte centered at
    * 127.5 (exactly representable, so the arithmetic replays).
    */
  val MaxSimDims = 8

  /** Deterministic token encoder: dim columns `<prefix>1..<prefix>D`
    * plus `<prefix>nrm` appended to a frame with a `term` column —
    * byte i of md5("tok:" + term) centered at 127.5. The same
    * expression encodes corpus tokens and query tokens, so identical
    * terms get cosine exactly 1 and the encoder stands in for a
    * learned per-token embedding behind the identical plan shape (a
    * production stack swaps this projection for stored ColBERT token
    * vectors; everything downstream is unchanged). Fixed-order
    * explicit sums, so both engines run the identical IEEE ops.
    */
  private def withTokenVec(df: DataFrame, prefix: String): DataFrame = {
    val h = md5(concat(lit("tok:"), col("term")))
    val dims = (1 to MaxSimDims).map { i =>
      (conv(substring(h, 2 * i - 1, 2), 16, 10).cast("double") - 127.5)
        .as(s"$prefix$i")
    }
    val out = df.select(df.columns.map(col) ++ dims: _*)
    out.withColumn(s"${prefix}nrm",
      sqrt((1 to MaxSimDims).map(i => col(s"$prefix$i") * col(s"$prefix$i"))
        .reduceLeft(_ + _)))
  }

  /** `retrieval_maxsim`: late-interaction (multi-vector) retrieval —
    * the ColBERT scoring shape: every token of query and document
    * carries its OWN vector; score(q, d) = Σ over query-token
    * instances of the MAX cosine against any of d's token vectors,
    * top-[[BmTopK]] docs per query. Late interaction dominates modern
    * retrieval stacks because it keeps token-level matching (unlike
    * single-vector ANN) without a cross-encoder's quadratic cost —
    * and it disagrees with BM25 exactly where it should: near-miss
    * vocabulary still earns partial credit through vector similarity
    * instead of scoring zero.
    *
    * 100 TB shape: the corpus is tokenized ONCE, map-side — no
    * distinct, no posting shuffle: duplicate (doc, term) rows cannot
    * change a max. Token vectors are computed in the scan projection
    * (in production they are STORED per-token encoder outputs — the
    * multi-vector index — read the same way). The query token set is
    * a broadcast; the per-(query-token, doc) max is the ONE
    * corpus-scale shuffle, and it partial-aggregates map-side to ≤
    * |docs|·|query tokens| rows before the exchange. The per-doc sum
    * runs over that bounded frame (6dp contributions summed as
    * DECIMAL — order-exact), and the final per-query cut rides the
    * bounded `graft_topk` aggregate, never a rank window over scored
    * docs. No window function anywhere in the plan (plan-audited).
    */
  def maxSimSearch(spark: SparkSession, dir: String): DataFrame =
    maxSimSearch(spark, dir, Queries)

  def maxSimSearch(spark: SparkSession, dir: String,
      queries: Seq[(Long, String)]): DataFrame = {
    // per-doc DISTINCT terms from a map-side `array_distinct` (no
    // shuffle — the [[bm25Search]] df-pass idiom): duplicate (doc,
    // term) rows cannot change a max, so dropping them in the scan
    // projection shrinks the similarity probe's input for free
    val docTerms = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(lower(col("text")))))
          .as("term"))
    // term vectors at VOCABULARY grain, not occurrence grain: the
    // encoder is per-token, so the md5 projection and the norm are
    // functions of the term alone — computing them per corpus
    // occurrence (the previous shape) repeated the same digest
    // arithmetic once per posting row. The distinct is a vocab-sized
    // shuffle of bare terms; at 100 TB the vocabulary is bounded by
    // the ENCODER (a model vocab, ~10^4-10^5 terms), not the corpus.
    val termVecs = withTokenVec(docTerms.select("term").distinct(), "x")
    maxSimScore(spark, docTerms, termVecs, queries)
  }

  /** The maxsim scoring tail over a (doc_id, term) occurrence frame
    * plus a (term, x1..xD, xnrm) vector table — shared verbatim by the
    * corpus path and the stored-index serve, so "served == computed"
    * is a property of the data, not of two formula copies staying in
    * sync. The (term × query-token) similarity table is computed ONCE
    * at vocabulary grain and broadcast — encoder-vocab × |query token
    * instances| rows, broadcastable by construction — so the
    * corpus-sized side pays one hash-join probe plus the partial max,
    * never per-occurrence digest arithmetic (measured 2.3x on the
    * corpus path at sf0.1).
    */
  private def maxSimScore(spark: SparkSession, docTerms: DataFrame,
      termVecs: DataFrame, queries: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    import graft.functions.TopKFunctions.topK
    // query-token INSTANCES (qpos) — a repeated query term contributes
    // its max once per occurrence, the ColBERT sum-over-instances
    val qtoks = withTokenVec(
      queries.flatMap { case (qid, q) =>
        q.split(" ").zipWithIndex.map { case (t, i) => (qid, i.toLong, t) }
      }.toDF("query_id", "qpos", "term"),
      "y").drop("term")
    val dot = (1 to MaxSimDims).map(i => col(s"x$i") * col(s"y$i"))
      .reduceLeft(_ + _)
    val simTab = termVecs.crossJoin(broadcast(qtoks))
      .select(col("term"), col("query_id"), col("qpos"),
        round(dot / (col("xnrm") * col("ynrm")), 6).as("sim"))
    // NO broadcast hint on the sim table: its row count is |vocab| ×
    // |query-token instances|, and with the md5 per-token encoder the
    // vocabulary is the CORPUS's distinct-term set (ids, typos, hashes
    // — 10^7-10^9 terms at 100 TB), not a bounded model vocab — a hard
    // hint would ship that to every task and the driver. Instead the
    // sim table MATERIALIZES (tracked cache + count) so the size-based
    // broadcast decision reads its TRUE in-memory bytes — an estimate
    // would not do: the crossJoin-derived guess is corpus-scan-sized
    // (under which the planner flipped to building the CORPUS side —
    // measured +45% locally, the same unbounded-build hazard on the
    // other side), and a localCheckpoint INHERITS that estimate
    // (Spark 4 rewriteStatsAndConstraints). With honest bytes the
    // threshold picks a BHJ probe of the vocab-grain build at every
    // gate SF and degrades to a shuffle join once the vocabulary
    // outgrows the budget. The materialization itself is vocab-grain
    // work the served path already pays as a stored artifact
    // (`tokvecs`).
    val simTabM = Kernels.cacheTracked(simTab)
    simTabM.count()
    docTerms.join(simTabM, "term")
      .groupBy("query_id", "qpos", "doc_id")
      .agg(max("sim").as("msim"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("msim").cast("decimal(18,6)")).cast("double"), 6)
        .as("score"))
      .groupBy("query_id")
      .agg(topK(spark, col("score"), col("doc_id"), lit(BmTopK)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** Materializes the multi-vector index to `path` — the stored form
    * the [[maxSimSearch]] docstring promises (the
    * [[writeSearchIndex]] contract at the token-vector modality):
    *
    *  - `path/doctoks`: DISTINCT (doc_id, term) pairs — duplicates
    *    cannot change a max, so the stored form deduplicates at build
    *    time (one shuffle, paid once per corpus build);
    *  - `path/tokvecs`: the term VOCABULARY with its vectors and
    *    norms — vocab-sized, broadcastable at serve time.
    *
    * This is the per-TYPE layout the deterministic encoder admits; a
    * contextual encoder (real ColBERT) stores per-occurrence vectors
    * in `doctoks` directly and drops `tokvecs` — the serve below
    * reads the joined shape either way.
    */
  def writeMaxSimIndex(spark: SparkSession, dir: String, path: String): Unit = {
    val docToks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      .distinct()
    val docToksC = Kernels.cacheTracked(docToks)
    docToksC.write.mode("overwrite").parquet(s"$path/doctoks")
    withTokenVec(docToksC.select("term").distinct(), "x")
      .write.mode("overwrite").parquet(s"$path/tokvecs")
  }

  /** Builds the multi-vector index under a fingerprinted temp root
    * once per (corpus, JVM) — the gate-facing wrapper.
    */
  def ensureMaxSimIndex(spark: SparkSession, dir: String): String =
    Kernels.buildStore("graft-maxsim", Kernels.inputKey(dir, "documents.parquet"))(
      writeMaxSimIndex(spark, dir, _))

  /** `retrieval_maxsim_served`: [[maxSimSearch]] answered from the
    * stored multi-vector index with NO access to the document text —
    * the production read path: stored token occurrences joined to the
    * broadcast vocabulary vectors feed the identical scoring tail, so
    * served == computed exactly (one oracle text; additionally
    * spec-pinned).
    */
  def maxSimServed(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureMaxSimIndex(spark, dir)
    // the stored layout IS the scoring tail's shape: occurrence rows
    // (doc_id, term) plus the vocab-sized vector table — the sims
    // compute at vocabulary grain and the occurrences join only the
    // broadcast sim table
    maxSimScore(spark,
      spark.read.parquet(s"$root/doctoks"),
      spark.read.parquet(s"$root/tokvecs"),
      Queries)
  }

  /** Reciprocal-rank-fusion constant (the Cormack/Clarke default). */
  val RrfK = 60

  /** `retrieval_rrf`: hybrid retrieval — BM25 and tf·idf-cosine
    * rankings fused by reciprocal rank, score = Σ 1/([[RrfK]]+rank)
    * over the systems that ranked the doc. RRF is the standard fusion
    * for heterogeneous rankers (lexical + semantic in a production
    * RAG stack; two lexical scorers here, where the embedding ANN
    * family plays the semantic role over vec ids) because it needs no
    * score calibration: only ranks enter, so a system with a wild
    * score scale can't dominate.
    *
    * Scale shape: fusion runs over the two systems' top-k lists —
    * query-sized frames, a broadcast full-outer join and one rank
    * window per query. The corpus-touching work is whatever the
    * underlying rankers cost; fusion adds nothing corpus-sized.
    */
  // -------------------------------------------------------------------
  // Durable search index: the postings artifact both rankers serve from.

  /** Materializes the full-text search index to `path` — the
    * materialize-once product the [[bm25Search]]/[[tfidfSearch]]
    * docstrings promise (the
    * [[graft.operators.ProductQuant.buildIndex]] contract applied to
    * text):
    *
    *  - `path/postings`: (doc_id, term, tf, dl) — ONE tokenize pass
    *    over the corpus, the only corpus-sized component (bucket it by
    *    term in a production warehouse so a query probe touches only
    *    its terms' buckets);
    *  - `path/df`: every term's document frequency (vocab-sized);
    *  - `path/norms`: every document's tf·idf vector norm (doc-count
    *    sized — the VSM denominator);
    *  - `path/stats`: corpus doc count + token total (1 row).
    *
    * A serving session answers BOTH rankers from these four tables
    * with NO access to the document text: stored integers and
    * 6dp-fixed norms feed the identical scoring expressions, so
    * served == computed exactly (spec-pinned cross-session).
    */
  def writeSearchIndex(spark: SparkSession, dir: String, path: String): Unit = {
    val docs = Tables.documents(spark, dir)
    val postings = docs
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    val postingsC = Kernels.cacheTracked(postings)
    postingsC.write.mode("overwrite").parquet(s"$path/postings")
    val dfT = postingsC.groupBy("term").agg(count(lit(1)).as("df"))
    dfT.write.mode("overwrite").parquet(s"$path/df")
    // stats derive from the CACHED postings (Σ tf over postings ≡ Σ dl
    // over docs; token-less docs hold no posting rows but count toward
    // N via the column-pruned doc count) — the old shape paid a second
    // full tokenize pass of the corpus for the same two numbers
    val stats = postingsC.agg(sum("tf").as("total_tokens"))
      .crossJoin(docs.agg(count(lit(1)).as("n_docs")))
      .select(col("n_docs"), col("total_tokens"))
    stats.coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    postingsC
      .join(dfT, "term").crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df"))).as("w"))
      .groupBy("doc_id")
      .agg(round(sqrt(sum(round(col("w") * col("w"), 9).cast("decimal(18,9)"))
        .cast("double")), 6).as("nrm"))
      .write.mode("overwrite").parquet(s"$path/norms")
  }

  /** Builds the index under a fingerprinted temp root once per
    * (corpus, JVM) — the gate-facing wrapper (production calls
    * [[writeSearchIndex]] with a warehouse path).
    */
  def ensureSearchIndex(spark: SparkSession, dir: String): String =
    Kernels.buildStore("graft-search-index", Kernels.inputKey(dir, "documents.parquet"))(
      writeSearchIndex(spark, dir, _))

  /** `bm25_search_served`: BM25 answered from the [[writeSearchIndex]]
    * artifact — no tokenize, no text scan; the postings probe joins a
    * broadcast query-vocabulary df frame and the shared scoring tail
    * does the rest. This is the production read path: the expensive
    * pass (tokenize + tf aggregate) ran once at build time.
    */
  def bm25SearchServed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureSearchIndex(spark, dir)
    val qterms = Queries
      .flatMap { case (qid, q) => q.split(" ").map(t => (qid, t)) }
      .toDF("query_id", "term")
    val qdf = spark.read.parquet(s"$root/df")
      .join(broadcast(qterms.select("term").distinct()), Seq("term"), "leftsemi")
    val matched = spark.read.parquet(s"$root/postings")
      .join(broadcast(qdf), "term")
    bm25Score(matched, spark.read.parquet(s"$root/stats"), qterms)
  }

  /** `tfidf_search_served`: the VSM twin from the same artifact — the
    * stored norms replace the corpus-wide norm aggregate, so the serve
    * path touches only query-matched postings plus doc-count-sized
    * side tables.
    */
  def tfidfSearchServed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureSearchIndex(spark, dir)
    val qtf = Queries
      .flatMap { case (qid, q) => q.split(" ").map(t => (qid, t)) }
      .groupBy(identity).map { case ((qid, t), g) => (qid, t, g.size.toLong) }
      .toSeq.toDF("query_id", "term", "tfq")
    val stats = spark.read.parquet(s"$root/stats")
    val qdf = spark.read.parquet(s"$root/df")
      .join(broadcast(qtf.select("term").distinct()), Seq("term"), "leftsemi")
    val w = spark.read.parquet(s"$root/postings")
      .join(broadcast(qdf), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df"))).as("w"))
    tfidfScore(w, spark.read.parquet(s"$root/norms"), qtf, qdf, stats)
  }

  def rrfFusion(spark: SparkSession, dir: String): DataFrame =
    rrfOver(bm25Search(spark, dir), tfidfSearch(spark, dir))

  /** `retrieval_rrf_served`: the hybrid ranker end to end from the
    * durable artifact — both underlying rankers read the postings
    * index, so the whole retrieval stack (lexical ×2 + fusion) runs
    * with zero corpus scans. Same oracle as [[rrfFusion]]: the stored
    * integers and 6dp-fixed norms make served == computed exact.
    */
  def rrfFusionServed(spark: SparkSession, dir: String): DataFrame =
    rrfOver(bm25SearchServed(spark, dir), tfidfSearchServed(spark, dir))

  /** `retrieval_rrf3`: the full hybrid stack — BM25, tf·idf cosine
    * AND late-interaction maxsim fused by reciprocal rank. This is
    * the modern production shape (lexical + semantic fusion): maxsim
    * earns partial credit for near-miss vocabulary where the lexical
    * rankers score zero, and RRF needs no calibration across the
    * three wildly different score scales — only ranks enter. Scale
    * shape: fusion itself runs over three query-sized top-k lists
    * (two broadcast-sized full-outer joins, one rank window per
    * query); all three component rankings come from their SERVED
    * twins — the postings artifact ([[ensureSearchIndex]]) and the
    * multi-vector index ([[ensureMaxSimIndex]]) — so the fused stack
    * runs with ZERO corpus text scans (the production hybrid read
    * path; recomputing all three rankers in-session measured ~6 s at
    * sf0.1 for identical ranks). Served == computed is exact for
    * every component (stored integers and 6dp-fixed norms), and RRF
    * consumes only ranks, so the fused result is row-identical to the
    * in-session formulation — one oracle text covers both.
    */
  def rrfFusion3(spark: SparkSession, dir: String): DataFrame =
    rrfOver(bm25SearchServed(spark, dir), tfidfSearchServed(spark, dir),
      maxSimServed(spark, dir))

  /** Reciprocal-rank fusion of any number of (query_id, doc_id, rnk)
    * rankings: full-outer joins and the `1/(RrfK + rnk)` terms (0 where
    * a ranking misses the doc) fold left to right, so the two- and
    * three-ranker answers keep their summation order.
    */
  private def rrfOver(rankings: DataFrame*): DataFrame = {
    val ranked = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id"), col("doc_id"), col("rnk").as(s"rnk_$i"))
    }
    ranked.reduce(_.join(_, Seq("query_id", "doc_id"), "full_outer"))
      .select(col("query_id"), col("doc_id"),
        round(ranked.indices
          .map(i => coalesce(lit(1.0) / (lit(RrfK) + col(s"rnk_$i")), lit(0.0)))
          .reduce(_ + _), 6)
          .as("rrf"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id")))
        .cast("long"))
      .filter(col("rnk") <= BmTopK)
      .orderBy("query_id", "rnk")
  }
}
