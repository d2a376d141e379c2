package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.operators.TextAnalysis

/** Streaming document-ingest operators (north star — the reference is
  * strictly batch, SURVEY.md §2.5). Same harness contract as
  * [[EventStream]]: file-stream source over the static parquet, drained
  * through [[Streams]] (memory sink or per-batch store appends) for the
  * oracle gate only.
  */
object DocStream {

  private val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming exact dedup on continuous ingest: the content
    * fingerprint (same md5-of-normalized-text as [[graft.operators.Dedup.exact]])
    * is deduplicated in the state store with `dropDuplicates`, so each
    * distinct content is emitted exactly once no matter how often — or
    * in which micro-batch — duplicates arrive. The emitted set is
    * order-independent (the fingerprints themselves), so the result is
    * deterministic even though file-stream arrival order is not.
    *
    * State note: unbounded `dropDuplicates` keeps one state row per
    * distinct fingerprint forever — right for a bounded backfill like
    * this gate; a production ingest with event time would use
    * `dropDuplicatesWithinWatermark` to cap state, trading global
    * uniqueness for a dedup horizon.
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val fps = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet") // file source needs a dir
      .parquet(dir)
      .select(md5(TextAnalysis.normalizedText(col("text"))).as("fp"))
      .dropDuplicates("fp")
    Streams.drain(fps, OutputMode.Append(), Streams.stateWidth(spark))
      .orderBy("fp")
  }

  /** Synthetic event time spanning [[WatermarkSpanSecs]] seconds — the
    * testdata documents carry no timestamp, so ingest time is derived
    * deterministically from doc_id (production would use the real
    * ingest/crawl time). Span 1 h, watermark delay 2 h: the delay
    * covers the whole span, so within this bounded drain NO state is
    * evicted and the emitted set is exactly the distinct fingerprints —
    * deterministic under any file-split/micro-batch ordering, which is
    * what makes the query oracle-checkable.
    */
  val WatermarkSpanSecs = 3600L
  val WatermarkDelay = "2 hours"
  private val WatermarkBaseEpoch = 1704067200L // 2024-01-01 00:00:00 UTC

  /** [[streamDedup]] with BOUNDED state — the production shape its
    * docstring names: `dropDuplicatesWithinWatermark` keeps a state row
    * only until the event-time watermark passes the fingerprint's first
    * appearance plus [[WatermarkDelay]], so on infinite ingest state is
    * proportional to the dedup horizon, not to all content ever seen.
    * The trade is global uniqueness → horizon uniqueness: content
    * recurring after the horizon re-emits (acceptable for pipelines
    * that re-shard/re-dedup downstream, or whose duplicates cluster in
    * time — the common crawl-ingest case). `StreamingRecoverySpec`
    * drives the eviction behavior explicitly with a multi-era input;
    * this query's horizon covers its whole input, so the oracle is the
    * batch distinct.
    */
  def streamDedupWatermark(spark: SparkSession, dir: String): DataFrame = {
    val fps = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(md5(TextAnalysis.normalizedText(col("text"))).as("fp"),
        timestamp_seconds(lit(WatermarkBaseEpoch)
          + col("doc_id") % WatermarkSpanSecs).as("ts"))
      .withWatermark("ts", WatermarkDelay)
      .dropDuplicatesWithinWatermark("fp")
      .select("fp")
    Streams.drain(fps, OutputMode.Append(), Streams.stateWidth(spark))
      .orderBy("fp")
  }

  /** Streaming incremental dedup — [[graft.operators.Dedup.incremental]]
    * as an INGEST STREAM, covering the stream-STATIC join shape (the
    * one production join this suite hadn't exercised: stream-stream
    * and stateful dedup are covered by [[EventStream]] and
    * [[streamDedup]]): newly-arriving documents anti-join the static
    * fingerprint store of the existing corpus per micro-batch — the
    * store is a TABLE maintained by previous ingests, never shuffled
    * into stream state — and a streaming aggregation keeps each
    * first-seen batch fingerprint with its in-batch duplicate count.
    * This is the production ingest topology for exact dedup: state is
    * bounded by the BATCH's fingerprints (the aggregation), while the
    * arbitrarily-large store stays on the static side. Complete-mode
    * output equals the batch query bit-for-bit, so the SAME oracle
    * gates both.
    */
  def streamIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val fpOf = md5(TextAnalysis.normalizedText(col("text")))
    val splitOf = substring(md5(concat(lit("inc:"), col("doc_id").cast("string"))), 1, 1)
    val store = graft.Tables.documents(spark, dir)
      .select(fpOf.as("fp"), splitOf.as("split"))
      .filter(col("split") >= Dedup.IncBatchThreshold)
      .select("fp").distinct()
    val batch = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id"), fpOf.as("fp"), splitOf.as("split"))
      .filter(col("split") < Dedup.IncBatchThreshold)
    val deduped = batch.join(store, Seq("fp"), "left_anti")
      .groupBy("fp")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_batch_dups"))
      .select(col("doc_id"), col("fp"), col("n_batch_dups"))
    Streams.drain(deduped, OutputMode.Complete(), Streams.stateWidth(spark))
      .orderBy("doc_id")
  }

  /** `stream_dedup_spans`: the INGEST-stream twin of
    * [[graft.operators.Dedup.spanDedup]], closing the last batch-only
    * dedup shape. Newly-arriving documents' k-token-gram fingerprints
    * probe the HISTORICAL corpus' gram store per micro-batch — the
    * [[streamIncrementalDedup]] stream-STATIC topology, span-level: the
    * store is a table of the history's distinct gram fingerprints
    * (bucketed-by-fp in production, never stream state), the stream
    * side explodes grams map-side, left-joins the store, and one
    * bounded streaming aggregation folds each doc's hits back into a
    * span report: n_spans probed, n_dup_spans already in history, and
    * the sorted start positions — the mask a downstream writer applies
    * (the batch operator's token masking needs the full token array
    * next to the aggregated starts, which streaming forbids joining
    * after an aggregation; emitting the positions keeps the state
    * bounded by the BATCH's rows and leaves masking to the consumer,
    * exactly how a production span-scrubber splits the work).
    * In-batch first-occurrence dedup is deliberately out of scope here
    * — that is [[graft.operators.Dedup.spanDedup]]'s backfill job; the
    * incremental semantics dedup ONLY against history, the same trade
    * [[graft.operators.Dedup.incremental]] makes at doc level.
    * Complete-mode output is deterministic under any micro-batch
    * split, so the DuckDB replay gates it exactly.
    */
  def streamSpanDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val k = Dedup.SpanK
    val toksOf = TextAnalysis.tokens(lower(col("text")))
    val splitOf = substring(md5(concat(lit("inc:"), col("doc_id").cast("string"))), 1, 1)
    def gramsOf(toks: org.apache.spark.sql.Column) =
      when(size(toks) >= k,
        transform(sequence(lit(1), size(toks) - (k - 1)),
          i => md5(concat_ws(" ", slice(toks, i, lit(k))))))
        .otherwise(array().cast("array<string>"))
    val store = graft.Tables.documents(spark, dir)
      .select(toksOf.as("toks"), splitOf.as("split"))
      .filter(col("split") >= Dedup.IncBatchThreshold)
      .select(explode(gramsOf(col("toks"))).as("fp"))
      .distinct()
      .withColumn("hit", lit(true))
    val batchGrams = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id"), col("text"), splitOf.as("split"))
      .filter(col("split") < Dedup.IncBatchThreshold)
      // one input partition per file would run the tokenize + gram
      // explode single-threaded (see streamIncrementalMinHash)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), toksOf.as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        posexplode_outer(gramsOf(col("toks"))).as(Seq("i", "fp")))
      .select(col("doc_id"), col("n_tokens"),
        (col("i") + 1).cast("long").as("s"), col("fp"))
    val report = batchGrams
      .join(store, Seq("fp"), "left")
      .groupBy("doc_id", "n_tokens")
      .agg(count(col("fp")).as("n_spans"),
        count(when(col("hit"), lit(1))).as("n_dup_spans"),
        concat_ws(",", transform(
          sort_array(collect_list(when(col("hit"), col("s")))),
          x => x.cast("string"))).as("dup_starts"))
    Streams.drain(report, OutputMode.Complete(), Streams.stateWidth(spark))
      .orderBy("doc_id")
  }

  private val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** `stream_incremental_minhash`: the INGEST-stream twin of
    * [[graft.operators.Dedup.incrementalMinHash]], completing the
    * streaming incremental family for near-dups (exact and spans were
    * covered; the band-store probe was batch-only). Newly-arriving
    * documents compute shingles + MinHash bands map-side (the
    * declarative twins of the batch kernels — bit-identical, the
    * [[streamPipelineIngest]] contract), probe the HISTORICAL band
    * store per micro-batch — a stream-STATIC equi-join on (band,
    * bkey); the store is a bucketed table in production, never stream
    * state — and verify collisions with the exact hashed-shingle
    * Jaccard inline in the join's projection. The only STATE is the
    * per-pair fold (a band collision can emit the same pair up to
    * 4×), bounded by the BATCH's verified pair count — orders of
    * magnitude below the corpus. Complete-mode output equals the
    * batch query bit-for-bit, so the SAME oracle gates both.
    */
  def streamIncrementalMinHash(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Kernels}
    // the DURABLE band-store artifact (built once per corpus/JVM, the
    // production pre-materialized table): the drain's per-batch probes
    // read stored rows, never re-run the history shingle + signature
    // pipeline. Deliberately NOT cached: each probe below projects a
    // different slim slice, and parquet column pruning at the scan
    // (the band index never reads the shingle arrays) beats caching
    // full rows — materializing the cache cost a whole-table pass of
    // the array payload that a one-batch drain reads back only once
    val store = spark.read.parquet(Dedup.ensureBandStore(spark, dir))
    val toksLower = filter(
      split(lower(col("text")), TextAnalysis.TokenSplitRe), t => length(t) > 0)
    val splitOf = substring(md5(concat(lit("inc:"), col("doc_id").cast("string"))), 1, 1)
    // signature via the batch's typed byte-level kernel (stateless
    // mapPartitions — streaming-legal); the earlier declarative
    // 16×md5-per-shingle expression made this the slowest bench query
    val bandStructs = (0 until Dedup.MinHashBands).map { b =>
      struct(lit(b).as("band"), concat_ws("|",
        (0 until Dedup.MinHashRows).map(r =>
          element_at(col("sig"), Dedup.MinHashRows * b + r + 1)): _*)
        .as("bkey"))
    }
    val batchBands = Dedup.minHashSigCarry(
      spark.readStream
        .schema(documentsSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .select(col("doc_id"), col("text"), splitOf.as("split"))
        .filter(col("split") < Dedup.IncBatchThreshold)
        // the file source delivers ONE input partition per file, which
        // would run the shingle + signature kernels single-threaded; an
        // explicit repartition (streaming-legal, independent of the
        // state-sized shuffle conf) restores batch parallelism for the
        // per-doc compute
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("sh", Dedup.shingles(toksLower, 3))
        .filter(size(col("sh")) > 0) // shingle-less docs have no signature
        .select(col("doc_id"), col("sh"),
          sort_array(transform(col("sh"), s => xxhash64(s))).as("shh"),
          size(col("sh")).as("nsh")))
      .select(col("doc_id"), col("shh"), col("nsh"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"),
        col("shh"), col("nsh"))
    val common = graft.functions.VectorFunctions
      .overlap(spark, col("shh"), col("h_shh")).cast("double")
    val sz = (col("nsh") + col("h_nsh")).cast("double")
    // the static side joins in two SLIM stages — the band index (3
    // small columns) finds candidates, then ONE verify payload row per
    // history doc joins by id (carrying the hashed shingle arrays
    // through the ×4 band explode instead quadrupled the join payload
    // for nothing). No broadcast hints: the store is CORPUS-sized in
    // production (a bucketed table whose shuffle the bucketing
    // pre-pays; the batch side is the small side either way), a store
    // broadcast would cap the design at driver memory, and hinting the
    // BATCH side broadcast measured SLOWER — building the candidate
    // broadcast serializes the two store scans instead of pipelining
    // them. The join strategy matters though: the micro-batch planner
    // (no AQE in streaming) picks SortMergeJoin, which SORTS the
    // store's band index and array payload per batch; preferring
    // hash joins (set around the drain below) keeps the same
    // exchanges but drops both corpus-side sorts.
    val pairs = batchBands
      .join(store.select("band", "bkey", "hist_id"), Seq("band", "bkey"))
      // one verify-payload row per history doc: every doc carries all
      // MinHashBands band rows, so `band = 0` selects exactly one — a
      // PUSHED-DOWN scan predicate, where a dropDuplicates(hist_id)
      // would shuffle every stored shingle array just to throw 3 of
      // every 4 copies away
      .join(store.filter(col("band") === 0)
        .select("hist_id", "h_shh", "h_nsh"), Seq("hist_id"))
      .select(col("doc_id").as("batch_id"), col("hist_id"),
        round(common / (sz - common), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      // multi-band collisions re-emit the same (pair, jaccard): the fold
      // is the streaming `distinct()` — jaccard is functionally
      // dependent on the pair, so min() is just the value
      .groupBy("batch_id", "hist_id")
      .agg(min("jaccard").as("jaccard"))
    try Streams.drain(pairs, OutputMode.Complete(),
        Streams.stateWidth(spark) ++ Streams.HashJoins)
      .orderBy("batch_id", "hist_id")
    finally Dedup.retireCaches()
  }

  /** `stream_incremental_semantic`: the INGEST-stream twin of
    * [[graft.operators.Dedup.incrementalSemantic]] — the last
    * incremental dedup shape without a streaming form. Newly-arriving
    * batch embeddings probe the HISTORICAL vectors within their
    * trained capped cell only: the static side is the celled index
    * table ([[graft.operators.Dedup.cappedCelledIndex]] — trained
    * cells, sub-cell caps, vectors, norms: exactly what a production
    * celled store holds per vector), and the stream side looks up its
    * OWN row in that index (a stream-static join on vec_id — the
    * ingest job that maintains the index assigned the batch vector its
    * cell in the same pass, so the probe reads the assignment rather
    * than recomputing it) then equi-joins history candidates on
    * (cluster, sub) with the exact cosine ≥ threshold inline. Fully
    * STATELESS — two stream-static joins, no aggregation: each batch
    * vector arrives in exactly one micro-batch and its cell membership
    * is unique, so append-mode emission is already duplicate-free.
    * Output equals the batch query bit-for-bit; the SAME oracle gates
    * both.
    */
  def streamIncrementalSemantic(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Kernels}
    import graft.functions.VectorFunctions.dot
    val splitOf = substring(md5(concat(lit("inc:"), col("vec_id").cast("string"))), 1, 1)
    val idx = Kernels.cacheTracked(
      Dedup.cappedCelledIndex(spark, dir).withColumn("split", splitOf))
    val history = idx.filter(col("split") >= Dedup.IncBatchThreshold)
      .select(col("vec_id").as("hist_id"), col("cluster"), col("sub"),
        col("v").as("hv"), col("norm").as("hn"))
    val batchIdx = idx.filter(col("split") < Dedup.IncBatchThreshold)
      .select(col("vec_id"), col("cluster"), col("sub"),
        col("v").as("bv"), col("norm").as("bn"))
    val pairs = spark.readStream
      .schema(embeddingsSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)
      .select(col("vec_id"))
      .filter(splitOf < Dedup.IncBatchThreshold)
      .join(batchIdx, "vec_id")
      .join(history, Seq("cluster", "sub"))
      .select(col("vec_id").as("batch_id"), col("hist_id"),
        round(dot(spark, col("bv"), col("hv")) / (col("bn") * col("hn")), 6)
          .as("cosine"))
      .filter(col("cosine") >= Dedup.CosineDupThreshold)
    try Streams.drain(pairs, OutputMode.Append())
      .orderBy("batch_id", "hist_id")
    finally Dedup.retireCaches()
  }

  /** `stream_phash_incremental`: the ingest-stream twin of
    * [[graft.operators.Multimodal.phashIncremental]] — newly-arriving
    * media probes the HISTORICAL perceptual-signature store per
    * micro-batch. The trained thresholds ride the task closure (16
    * values — the codebook contract), the signature is the SAME pixel
    * kernel as the batch query ([[graft.operators.Multimodal.phashOfBody]]
    * over the parsed raster — stateless `mapPartitions`,
    * streaming-legal), its bands are map-only expressions, candidates
    * come from a stream-static equi-join on the banded store, and the
    * only aggregation is the multi-band-collision fold (a pair can
    * collide on both bands), so the complete-mode result equals the
    * batch query bit-for-bit and the SAME oracle gates both.
    */
  def streamPhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Kernels, Multimodal}
    val mu = Multimodal.historyMu(spark, dir)
    val store = Kernels.cacheTracked(Multimodal.historyPhashStore(spark, dir, mu))
    val splitOf = substring(md5(concat(lit("inc:"), col("doc_id").cast("string"))), 1, 1)
    val synth = udf((body: Array[Byte]) => Multimodal.synthPayload(body))
    implicit val sigEnc: org.apache.spark.sql.Encoder[(Long, Long)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)
    val pairs = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id"), col("text"), splitOf.as("split"))
      .filter(col("split") < Dedup.IncBatchThreshold)
      .select(col("doc_id"), synth(encode(col("text"), "UTF-8")).as("payload"))
      .mapPartitions { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.map(r =>
          (r.getLong(0), Multimodal.phashOfBody(r.getAs[Array[Byte]](1), mu)))
      }
      .toDF("batch_id", "ph")
      .select(col("batch_id"), col("ph"),
        explode(Multimodal.phashBands(col("ph"))).as("bk"))
      .select(col("batch_id"), col("ph"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .join(store, Seq("band", "bkey"))
      .select(col("batch_id"), col("hist_id"),
        expr("CAST(bit_count(ph ^ h_ph) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= Multimodal.PhashMaxHamming)
      .groupBy("batch_id", "hist_id")
      .agg(min("hamming").as("hamming"))
    try Streams.drain(pairs, OutputMode.Complete(), Streams.stateWidth(spark))
      .orderBy("batch_id", "hist_id")
    finally Dedup.retireCaches()
  }

  /** `stream_audio_neardup`: the ingest-stream twin of
    * [[graft.operators.Multimodal.audioNearDupIncremental]] — newly-
    * arriving clips probe the HISTORICAL energy-signature store per
    * micro-batch. The trained per-window thresholds ride the task
    * closure; the signature is the SAME sample-width-aware kernel as
    * the batch query ([[graft.operators.Multimodal.audioSigOfBody]] —
    * stateless `mapPartitions`, streaming-legal); bands are map-only
    * expressions; candidates come from a stream-static equi-join on
    * the banded store; and the only aggregation is the multi-band-
    * collision fold, so the complete-mode result equals the batch
    * query bit-for-bit and the SAME oracle gates both.
    */
  def streamAudioNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Kernels, Multimodal}
    val mu = Multimodal.historyAudioMu(spark, dir)
    val store = Kernels.cacheTracked(Multimodal.historyAudioStore(spark, dir, mu))
    val splitOf = substring(md5(concat(lit("inc:"), col("doc_id").cast("string"))), 1, 1)
    val synth = udf((body: Array[Byte]) => Multimodal.synthPayload(body))
    implicit val sigEnc: org.apache.spark.sql.Encoder[(Long, Long)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)
    val pairs = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id"), col("text"), splitOf.as("split"))
      .filter(col("split") < Dedup.IncBatchThreshold)
      .select(col("doc_id"), synth(encode(col("text"), "UTF-8")).as("payload"))
      .mapPartitions { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.flatMap { r =>
          Multimodal.audioSigOfBody(r.getAs[Array[Byte]](1), mu)
            .map((r.getLong(0), _))
        }
      }
      .toDF("batch_id", "ph")
      .select(col("batch_id"), col("ph"),
        explode(Multimodal.phashBands(col("ph"))).as("bk"))
      .select(col("batch_id"), col("ph"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .join(store, Seq("band", "bkey"))
      .select(col("batch_id"), col("hist_id"),
        expr("CAST(bit_count(ph ^ h_ph) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= Multimodal.PhashMaxHamming)
      .groupBy("batch_id", "hist_id")
      .agg(min("hamming").as("hamming"))
    try Streams.drain(pairs, OutputMode.Complete(), Streams.stateWidth(spark))
      .orderBy("batch_id", "hist_id")
    finally Dedup.retireCaches()
  }

  /** `stream_video_neardup`: the ingest-stream twin of
    * [[graft.operators.Multimodal.videoNearDupIncremental]] — newly-
    * arriving clips probe the HISTORICAL frame-signature store per
    * micro-batch. Frame signatures are the SAME kernel as the batch
    * query ([[graft.operators.Multimodal.frameSigRows]] with the
    * trained thresholds in the closure — stateless `mapPartitions`),
    * candidates come from a stream-static equi-join on the banded
    * store, multi-band collisions collapse STATELESSLY via
    * [[graft.operators.Multimodal.firstBandOnly]] (a `distinct` here
    * would be a second stateful operator — not streaming-legal next to
    * the clip aggregation), and the single complete-mode aggregation
    * lifts frame matches to clip pairs, so the result equals the batch
    * query bit-for-bit and the SAME oracle gates both.
    */
  def streamVideoNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Kernels, Multimodal}
    val mu = Multimodal.historyFrameMu(spark, dir)
    val store = Kernels.cacheTracked(Multimodal.historyFrameStore(spark, dir, mu))
    val splitOf = substring(md5(concat(lit("inc:"), col("doc_id").cast("string"))), 1, 1)
    val synth = udf((body: Array[Byte]) => Multimodal.synthPayload(body))
    implicit val sigEnc: org.apache.spark.sql.Encoder[(Long, Long, Long)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)
    val pairs = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id"), col("text"), splitOf.as("split"))
      .filter(col("split") < Dedup.IncBatchThreshold)
      .select(col("doc_id"), synth(encode(col("text"), "UTF-8")).as("payload"))
      .mapPartitions { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.flatMap(r =>
          Multimodal.frameSigRows(r.getLong(0), r.getAs[Array[Byte]](1), mu))
      }
      .toDF("batch_id", "bs", "ph")
      .select(col("batch_id"), col("bs"), col("ph"),
        explode(Multimodal.phashBands(col("ph"))).as("bk"))
      .select(col("batch_id"), col("bs"), col("ph"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .join(store, Seq("band", "bkey"))
      .filter(Multimodal.firstBandOnly(col("ph"), col("h_ph"), col("band")))
      .select(col("batch_id"), col("hist_id"),
        expr("CAST(bit_count(ph ^ h_ph) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= Multimodal.PhashMaxHamming)
      .groupBy("batch_id", "hist_id")
      .agg(count(lit(1)).as("n_frame_matches"), min("hamming").as("min_hamming"))
      .filter(col("n_frame_matches") >= Multimodal.VideoMatchMinFrames)
    try Streams.drain(pairs, OutputMode.Complete(), Streams.stateWidth(spark))
      .orderBy("batch_id", "hist_id")
    finally Dedup.retireCaches()
  }

  /** STREAMING FLAGSHIP — [[graft.operators.Corpus.ingest]] run as a
    * continuous stream: the full per-batch ingest composition (quality
    * gate → exact dedup vs the historical fingerprint store → MinHash
    * near-dup probe vs the historical band store → first-seen batch
    * aggregation) with every stage in its streaming-legal shape, and
    * the result bit-identical to the batch composition, so the SAME
    * oracle gates both.
    *
    * Why each stage is stateless (the whole design):
    *  - quality + fingerprint + MinHash signatures are per-row
    *    projections (the declarative [[graft.operators.Dedup.shingles]]
    *    twin of the batch kernel) — they ride the micro-batch scan;
    *  - exact dedup is a stream-STATIC anti join on the fp store;
    *  - the near-dup probe is FOUR stream-static anti joins, one per
    *    band, each an equi-join on that band's key with the exact
    *    Jaccard (`graft_overlap` on the hashed shingle sets, ≥ 0.3) as
    *    the residual condition — an anti join per band is exactly "drop
    *    the doc if ANY band collides and verifies", and the band store
    *    is probed the way production probes a bucketed-by-bkey table;
    *  - the only STATE is the final first-seen aggregation, bounded by
    *    the batch's distinct fingerprints (as [[streamIncrementalDedup]]).
    *
    * Pre-agg filter placement is safe because every dropped row's fp
    * group drops WITH it: same fp ⟹ same normalized text ⟹ same
    * letter-run tokens ⟹ same shingles, quality, bands and Jaccard —
    * so per-group counts (`n_batch_dups`) are unchanged, which is what
    * makes the batch oracle replay the stream bit-for-bit.
    */
  def streamPipelineIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Corpus, Dedup, Kernels}
    val fpOf = md5(TextAnalysis.normalizedText(col("text")))
    val splitOf = substring(md5(concat(lit("inc:"), col("doc_id").cast("string"))), 1, 1)
    // static sides — in production: materialized store tables appended
    // per ingest; cached because four band probes (and every
    // micro-batch) re-read them
    val fpStore = graft.Tables.documents(spark, dir)
      .select(fpOf.as("fp"), splitOf.as("split"))
      .filter(col("split") >= Dedup.IncBatchThreshold)
      .select("fp").distinct()
    val bandStore = Kernels.cacheTracked(
      spark.read.parquet(Dedup.ensureBandStore(spark, dir)))

    val (lenScore, diversity, stopScore) = TextAnalysis.qualityParts(col("toks"))
    val toksLower = filter(
      split(lower(col("text")), TextAnalysis.TokenSplitRe), t => length(t) > 0)

    val batch = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id"), col("text"), fpOf.as("fp"), splitOf.as("split"))
      .filter(col("split") < Dedup.IncBatchThreshold)
      // restore batch parallelism for the per-doc compute (the file
      // source yields one input partition per file) — the
      // streamIncrementalMinHash lesson
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("quality",
        round((lenScore + diversity + stopScore) / lit(3.0), 4))
      .filter(col("quality") >= Corpus.TrainQualityMin)
      .withColumn("sh", Dedup.shingles(toksLower, 3))
      .withColumn("shh", sort_array(transform(col("sh"), s => xxhash64(s))))
      .withColumn("nsh", size(col("sh")))
      .select("doc_id", "fp", "quality", "sh", "shh", "nsh")
    // signatures in the typed kernel (reused digest — the declarative
    // 16×md5-per-shingle expression was the measured bottleneck here,
    // exactly as in the standalone stream probe); shingle-less docs
    // keep NULL band keys, which never match a store row — the
    // expression form's `when(size > 0, …)` semantics
    val bandKey = (b: Int) =>
      when(col("nsh") > 0, concat_ws("|",
        (0 until Dedup.MinHashRows).map(r =>
          element_at(col("sig"), Dedup.MinHashRows * b + r + 1)): _*))
    val withBands = (0 until Dedup.MinHashBands)
      .foldLeft(Dedup.minHashSigCarryIngest(batch)) { (df, b) =>
        df.withColumn(s"bk$b", bandKey(b))
      }
      .select((Seq("doc_id", "fp", "quality", "shh", "nsh") ++
        (0 until Dedup.MinHashBands).map(b => s"bk$b")).map(col): _*)

    val exactDeduped = withBands.join(fpStore, Seq("fp"), "left_anti")
    val nearDeduped = (0 until Dedup.MinHashBands).foldLeft(exactDeduped) { (df, b) =>
      val hb = bandStore.filter(col("band") === b).as(s"h$b")
      val common = graft.functions.VectorFunctions
        .overlap(spark, col("shh"), col(s"h$b.h_shh")).cast("double")
      val sz = (col("nsh") + col(s"h$b.h_nsh")).cast("double")
      df.join(hb,
        col(s"bk$b") === col(s"h$b.bkey") &&
          round(common / (sz - common), 6) >= 0.3,
        "left_anti")
    }
    val result = nearDeduped
      .groupBy("fp")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_batch_dups"),
        min("quality").as("quality"))
      .select("doc_id", "fp", "n_batch_dups", "quality")

    Streams.drain(result, OutputMode.Complete(), Streams.stateWidth(spark))
      .orderBy("doc_id")
  }

  val QualityThreshold = 0.5

  /** Streaming quality gate on continuous ingest: the same closed-form
    * score as [[graft.operators.TextAnalysis.qualityScore]] (shared
    * expression — batch and stream are bit-identical), filtered at
    * [[QualityThreshold]]. STATELESS — no aggregation, no watermark, no
    * state store: the scoring and filter run inside each micro-batch's
    * scan projection, so at production scale this is a pure pass-through
    * transform whose throughput equals the source's. This is the shape
    * of most pipeline pre-filters (quality, language, length): they
    * belong on the ingest stream, not in a later batch pass over
    * already-stored garbage.
    */
  /** The unstarted quality-gate stream — shared by [[streamQuality]]'s
    * memory-sink oracle drain and the file-sink spec
    * (`StreamingRecoverySpec`), which writes it through a REAL parquet
    * sink with checkpointing.
    */
  private[graft] def qualityStreamFrame(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val (lenScore, diversity, stopScore) = TextAnalysis.qualityParts(col("toks"))
    spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id"), toks.as("toks")) // materialize tokens once (no CSE)
      .select(col("doc_id"),
        round((lenScore + diversity + stopScore) / lit(3.0), 4).as("quality"))
      .filter(col("quality") >= QualityThreshold)
  }

  def streamQuality(spark: SparkSession, dir: String): DataFrame = {
    Streams.drain(qualityStreamFrame(spark, dir), OutputMode.Append())
      .orderBy("doc_id")
  }

  /** `stream_quality_classifier`: the TRAINED quality head applied on
    * continuous ingest — the production shape of every learned
    * pre-filter: the head is FROZEN before the stream starts (read
    * once from the durable `graft-quality-head` artifact — a model
    * deploy, not per-batch retraining) and scoring is a stateless
    * per-batch projection with the weights riding the task closure.
    * No aggregation, no watermark, no state store; throughput equals
    * the source's. The drained result equals the batch scorer
    * row-for-row (same features, same frozen weights), so
    * `quality_classifier_scored`'s oracle gates this query too —
    * completing the trained-head lattice: train / score / serve /
    * stream.
    */
  def streamQualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityClassifier
    val head = QualityClassifier.storedHead(spark, dir)
    val stream = spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val scored = QualityClassifier.scoreFrame(
      QualityClassifier.featuresOf(stream), head)
    Streams.drain(scored, OutputMode.Append())
      .orderBy("doc_id")
  }

  /** `stream_bm25_index`: the search index MAINTAINED under
    * continuous ingest — each micro-batch tokenizes its documents and
    * APPENDS their postings (and doc lengths) to the store; serving
    * BM25 from the maintained store must equal the batch-built
    * ranking ([[graft.operators.Retrieval.bm25Search]]'s oracle gates
    * it). Appends suffice because postings are doc-partitioned facts —
    * a document's rows are complete within its batch and no later
    * batch revises them — while the CORPUS statistics (df, N, avgdl)
    * are recomputed from the store at serve time, which is why a
    * query's score legitimately drifts as ingest proceeds and only
    * the final drained state is gate-comparable.
    *
    * 100 TB shape: per-batch work is batch-sized (tokenize + one
    * in-batch tf aggregate); the store grows by appended partitions
    * (production: bucketed by term, compacted periodically); the
    * serve path is [[graft.operators.Retrieval.bm25SearchServed]]'s
    * — broadcast query vocabulary, df over matched postings only.
    */
  /** One ingest batch's append into the search store at `root`:
    * tokenize, write the doc-length rows, aggregate the in-batch term
    * frequencies, append the postings. Factored out of the stream's
    * `foreachBatch` so the compaction spec can replay several ingests
    * against one store without a streaming source that happens to
    * split batches that way.
    */
  private[graft] def appendSearchBatch(batch: DataFrame, root: String): Unit = {
    val toked = batch
      .repartition(batch.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        TextAnalysis.tokens(lower(col("text"))).as("toks"))
    toked.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      .write.mode("append").parquet(s"$root/doclen")
    toked
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .write.mode("append").parquet(s"$root/postings")
    ()
  }

  /** Runs the ingest stream over `dir`, appending each micro-batch
    * into a fresh temp store; returns the store root.
    */
  private def ingestSearchStore(spark: SparkSession, dir: String): java.nio.file.Path = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-index")
    Streams.drainBatches(spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id"), col("text"))) { (batch, _) =>
      appendSearchBatch(batch, tmp.toString)
    }
    tmp
  }

  /** BM25 serve over a (postings, doclen) store —
    * [[graft.operators.Retrieval.bm25SearchServed]]'s shape: broadcast
    * query vocabulary, df as a partial-aggregated `groupBy(term)
    * .count()` over the matched postings (one store row per (doc,
    * term), so the matched count equals corpus df exactly; the
    * query-vocab-sized result broadcast-joins back — never a `count(*)
    * OVER (PARTITION BY term)` window, whose single-task partition
    * buffer a stopword term would blow up at scale), corpus stats from
    * the doc-length table (NOT the postings: a token-less doc has no
    * postings but still counts toward N).
    */
  private[graft] def serveBm25(
      spark: SparkSession, postings: String, doclen: String): DataFrame = {
    import graft.operators.Retrieval
    import spark.implicits._
    val qterms = Retrieval.Queries
      .flatMap { case (qid, t) => t.split(" ").map(w => (qid, w)) }
      .toDF("query_id", "term")
    val stats = spark.read.parquet(doclen)
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_tokens"))
    val matchedTf = spark.read.parquet(postings)
      .join(broadcast(qterms.select("term").distinct()), Seq("term"), "leftsemi")
    val dfT = matchedTf.groupBy("term").agg(count(lit(1)).as("df"))
    val matched = matchedTf.join(broadcast(dfT), "term")
    Retrieval.bm25Score(matched, stats, qterms)
  }

  def streamSearchIndex(spark: SparkSession, dir: String): DataFrame = {
    val tmp = ingestSearchStore(spark, dir)
    // the store is PER-CALL (random temp dir, unlike the fingerprinted
    // ensure* memos), so it must not outlive the call: materialize the
    // query-bounded serve result eagerly, then delete the store — the
    // caller gets a checkpoint leaf with no dangling file dependency.
    // finally: a serve-side failure must not leak the store either
    try graft.operators.Kernels.trackedCheckpoint(
      serveBm25(spark, s"$tmp/postings", s"$tmp/doclen"))
    finally graft.operators.Kernels.rmTree(tmp.toFile)
  }

  /** Compacted-store file budget: postings are rewritten into this
    * many term-hash buckets (term-sorted within each), doc lengths
    * into as many id-hash buckets. Sized for the test corpus; a
    * production deployment sets it from store size / target file size
    * (e.g. ~1 GB parquet files), the way `spark.sql.files
    * .maxPartitionBytes` is deployment-sized.
    */
  private[graft] val SearchStoreBuckets = 2

  /** Compacts an appended search store IN PLACE under `root`:
    * postings shuffle once into [[SearchStoreBuckets]] term-hash
    * buckets, sorted by (term, doc_id) within each — the
    * run-merge discipline of a reduce-side merge, applied to the
    * store: every batch's appended fragment of a term's posting list
    * lands contiguously in one file, so a query's term lookup reads
    * one bucket instead of every append. Doc lengths likewise. The
    * rewrite is one bounded shuffle of the store (NOT the corpus — at
    * 100 TB the store is the postings, already tf-aggregated), and the
    * rewritten buckets REPLACE the appended fragments: each table is
    * written to a `_c` sibling, then the original directory is removed
    * and the sibling renamed into its place, so the store's documented
    * location holds only the compacted files and the disk footprint
    * never stays doubled. (A distributed filesystem deployment swaps
    * via its own atomic-commit primitive; the local rename is that
    * step's single-node form.) Returns the (postings, doclen) paths —
    * the same locations the appends wrote.
    */
  private[graft] def compactSearchStore(
      spark: SparkSession, root: String): (String, String) = {
    spark.read.parquet(s"$root/postings")
      .repartition(SearchStoreBuckets, col("term"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").parquet(s"$root/postings_c")
    spark.read.parquet(s"$root/doclen")
      .repartition(SearchStoreBuckets, col("doc_id"))
      .write.mode("overwrite").parquet(s"$root/doclen_c")
    Seq("postings", "doclen").foreach { t =>
      graft.operators.Kernels.rmTree(new java.io.File(s"$root/$t"))
      require(new java.io.File(s"$root/${t}_c")
          .renameTo(new java.io.File(s"$root/$t")),
        s"compaction swap failed for $t")
    }
    (s"$root/postings", s"$root/doclen")
  }

  /** `stream_bm25_compact`: the maintained search index COMPACTED
    * after ingest, then served — closing the "appends forever" gap of
    * [[streamSearchIndex]]: per-batch appends leave one small file
    * set per micro-batch (small-files death within days of real
    * ingest); the periodic compaction pass rewrites the store into
    * [[SearchStoreBuckets]] term-bucketed, term-sorted files.
    * Compaction moves rows between files and never changes them, so
    * the served ranking is bit-identical to the uncompacted serve and
    * the same BM25 oracle gates it (spec-pinned file-count bound too).
    */
  def streamSearchIndexCompacted(spark: SparkSession, dir: String): DataFrame = {
    val tmp = ingestSearchStore(spark, dir)
    try {
      val (p, d) = compactSearchStore(spark, tmp.toString)
      graft.operators.Kernels.trackedCheckpoint(serveBm25(spark, p, d))
    } finally graft.operators.Kernels.rmTree(tmp.toFile)
  }

  /** `stream_ann_maintain`: the streaming twin of
    * `ann_ivf_pq_maintain` — served-index maintenance under TRUE
    * streaming ingest. The history-trained artifact (coarse cells, PQ
    * books, history assignments + codes) is written once; then each
    * micro-batch of newly-arriving vectors is assigned and encoded
    * with the FROZEN codebooks and only its rows are appended into
    * the celled store
    * ([[graft.operators.ProductQuant.appendBatchToIndex]] — the same
    * per-batch body the batch query runs once). Frozen-codebook
    * appends are per-vector independent and order-free, so however
    * the source micro-batches the ingest, the drained store equals
    * the batch-maintained store row-for-row and the SAME oracle gates
    * both. Per-batch cost is batch-sized map-only work plus a
    * batch-sized partition append — the index twin of the keep-list
    * and band-store maintenance streams.
    */
  def streamAnnMaintain(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, ProductQuant}
    // the trained BASE layer is immutable and memoized per corpus —
    // the stream never writes it; each call owns only a DELTA layer of
    // its batches' celled rows (the LSM shape: base + delta at serve,
    // folded flat by the periodic compaction pass). Per-call cost is
    // the ingest itself, not a rebuild of the trained store.
    val base = ProductQuant.ensureHistoryArtifact(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-ann")
    val delta = tmp.toString
    // ingest + serve run inside the finally so a failure anywhere never
    // leaks the delta; the serve result is an eager checkpoint leaf
    try {
      val splitOf =
        substring(md5(concat(lit("inc:"), col("vec_id").cast("string"))), 1, 1)
      Streams.drainBatches(spark.readStream
        .schema(embeddingsSchema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
        .select(col("vec_id"), col("embedding"))
        .filter(splitOf < Dedup.IncBatchThreshold)) { (batch, _) =>
        ProductQuant.appendBatchToIndex(batch, base, delta)
      }
      graft.operators.Kernels.trackedCheckpoint(
        ProductQuant.annIvfPqFromLayers(spark, dir, base, delta))
    } finally graft.operators.Kernels.rmTree(tmp.toFile)
  }

  /** `stream_media_keep`: the streaming twin of
    * [[graft.operators.Multimodal.mediaKeepMaintain]] — keep-list
    * maintenance under TRUE streaming ingest. The history keep store
    * (fingerprint groups under history-trained thresholds) is written
    * once; then each micro-batch of newly-arriving media is
    * fingerprinted with the FROZEN thresholds (≤ 3×PhashBits values in
    * the task closure — the codebook contract) by the SAME kernel as
    * the batch query ([[graft.operators.Multimodal.mediaSigFrame]] —
    * stateless `mapPartitions`, streaming-legal) and merged into a
    * versioned store ([[graft.operators.Multimodal.mergeMediaKeep]] —
    * the same per-batch body the batch query runs once). Frozen-
    * threshold fingerprints make per-batch merges COMMUTE ((min, sum)
    * per group), so however the source micro-batches the ingest, the
    * drained store equals the one-shot maintenance row-for-row and the
    * SAME oracle gates both. Per-batch cost is batch-sized map-only
    * work plus the store's touched groups — the keep-list twin of the
    * band-store and ANN-index maintenance streams.
    */
  def streamMediaKeep(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Kernels, Multimodal}
    val imgMu = Multimodal.historyImageMu(spark, dir)
    val audMu = Multimodal.historyAudioMu(spark, dir)
    val vidMu = Multimodal.historyFrameMu(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-mediakeep")
    try {
      Multimodal.mediaKeepHistoryStore(spark, dir, imgMu, audMu, vidMu)
        .write.parquet(s"$tmp/keep_v0")
      // Atomic, not a plain local var: the counter is written on the
      // stream-execution thread (inside foreachBatch) and read on the
      // caller thread after the drain returns — a captured plain
      // var rides an unsynchronized ObjectRef, leaving visibility to
      // incidental locking inside the streaming engine
      val version = new java.util.concurrent.atomic.AtomicInteger(0)
      val splitOf =
        substring(md5(concat(lit("inc:"), col("doc_id").cast("string"))), 1, 1)
      val synth = udf((body: Array[Byte]) => Multimodal.synthPayload(body))
      Streams.drainBatches(spark.readStream
        .schema(documentsSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .select(col("doc_id"), col("text"), splitOf.as("split"))
        .filter(col("split") < Dedup.IncBatchThreshold)
        .select(col("doc_id"), synth(encode(col("text"), "UTF-8")).as("payload"))) {
        (batch, _) =>
          val v = version.get()
          val sigs = Multimodal.mediaSigFrame(batch, imgMu, audMu, vidMu)
          Multimodal.mergeMediaKeep(
              spark.read.parquet(s"$tmp/keep_v$v"), sigs)
            .write.parquet(s"$tmp/keep_v${v + 1}")
          version.incrementAndGet()
      }
      Kernels.trackedCheckpoint(
        spark.read.parquet(s"$tmp/keep_v${version.get()}")
          .orderBy("modality", "keep_id"))
    } finally graft.operators.Kernels.rmTree(tmp.toFile)
  }

  /** `stream_media_keep_neardup`: the streaming twin of
    * [[graft.operators.Multimodal.mediaKeepNearDupMaintain]] — NEAR-dup
    * keep-list maintenance under true streaming ingest, completing the
    * modality × {batch, maintain, stream} lattice (the exact keep-list
    * already had all three; the near tier stopped at maintain). The
    * history state seeds once from the memoized history products (the
    * per-sig keep stores for image/audio, the video label table + the
    * history frame-signature store); each micro-batch then hashes its
    * payloads with the FROZEN history thresholds via the same kernels
    * as the batch path and folds in:
    *
    *  - image/audio: a per-SIG (min keep, summed count) upsert —
    *    [[graft.operators.Multimodal.sigKeepFold]]'s monoid applied
    *    as a DRIVER-memory fold over the ≤ 2^PhashBits-row store
    *    (frozen thresholds freeze the store key, so per-batch merges
    *    COMMUTE) and components resolve once at drain via the bounded
    *    sig-space union-find (adjacency is endpoint-local, so the
    *    final components are a function of the final present-sig set —
    *    no per-batch component work, no per-batch store I/O at all);
    *  - video: the clip pair predicate is NOT endpoint-local, so each
    *    batch probes the accumulated frame-signature store for its
    *    blast-radius edges (the asymmetric banded probe — batch frames
    *    × store, never a store self-join). The edges ACCUMULATE: the
    *    contraction-merge into the maintained LABEL table
    *    ([[graft.operators.Dedup.maintainLabels]] — keep rows alone
    *    cannot absorb the next batch; contraction needs every seen
    *    doc's current representative) is deferred to every
    *    [[VideoContractEvery]]-th batch plus once at drain, legally:
    *    contraction merges are confluent, so however the source
    *    micro-batches the ingest — and wherever the contraction
    *    points land — the drained labels equal the union-corpus
    *    components.
    *
    * The drained product therefore equals the one-shot maintenance
    * row-for-row and the SAME oracle gates both (the maintain query's
    * full-union-recompute text).
    */
  def streamMediaKeepNearDup(spark: SparkSession, dir: String): DataFrame =
    streamMediaKeepNearDupFrom(spark, dir, dir, "documents.parquet",
      filesPerTrigger = None, contractEvery = VideoContractEvery)

  /** How many micro-batches of video blast-radius edges accumulate
    * before a contraction folds them into the label table. Contraction
    * merges are confluent (the both-orders commutativity spec), so
    * deferral changes nothing in the drained product — it only
    * amortizes the component loop: per batch the stream does map-only
    * sig extraction plus the banded store probe (work proportional to
    * the batch), and the label merge runs once per
    * [[VideoContractEvery]] batches (on the stream thread, like any
    * foreachBatch work) plus once at drain — that final one on the
    * CALLER thread, where AQE plans it (micro-batch bodies get the
    * static no-AQE planner).
    */
  private[graft] val VideoContractEvery = 8

  /** [[streamMediaKeepNearDup]] with the source directory, glob, and
    * batching knobs exposed — the spec drives a 3-file copy of the
    * corpus one file per trigger to exercise the multi-batch edge
    * accumulation and the deferred contraction, which the single-file
    * production source cannot reach.
    */
  private[graft] def streamMediaKeepNearDupFrom(
      spark: SparkSession, dir: String, srcDir: String, glob: String,
      filesPerTrigger: Option[Int], contractEvery: Int): DataFrame = {
    import graft.operators.{Dedup, Kernels, Multimodal}
    val imgMu = Multimodal.historyMu(spark, dir)
    val audMu = Multimodal.historyAudioMu(spark, dir)
    val vidMu = Multimodal.historyFrameMu(spark, dir)
    val (imgSig, audSig, vidSig) = Multimodal.mediaHistSigFrames(spark, dir)
    val splitOf =
      substring(md5(concat(lit("inc:"), col("doc_id").cast("string"))), 1, 1)
    val isHist = splitOf >= Dedup.IncBatchThreshold
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-nkd")
    val marker = Kernels.phaseMarker()
    def nkdMark(tag: String): Unit = {
      val t = marker(tag)
      if (sys.env.contains("GRAFT_NKD_TIME"))
        System.err.println(f"[nkd] $tag at $t%.2fs")
    }
    try {
      // image/audio state lives in DRIVER memory for the whole drain:
      // the per-sig keep stores are ≤ 2^PhashBits rows by construction
      // (a codebook, not a data pass — the same bounded-driver-product
      // contract as the drain collect), so the fold holds them as
      // maps. The previous parquet round-trip cost two write jobs plus
      // two store re-reads per micro-batch for state only the next
      // merge ever read. The fold ([[graft.operators.Multimodal.sigKeepFold]])
      // is the commuting (min, sum)-per-sig monoid, so the
      // any-micro-batching-drains-equal argument carries over
      // unchanged. Seeded ONCE from the memoized history sig frames,
      // on the caller thread.
      def seedKeep(sig: DataFrame): scala.collection.mutable.Map[Long, (Long, Long)] =
        scala.collection.mutable.Map.from(
          sig.filter(isHist).groupBy("ph")
            .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_members"))
            .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))))
      nkdMark("preamble(mus+sigframes)")
      val imgKeep = seedKeep(imgSig)
      val audKeep = seedKeep(audSig)
      nkdMark("seeds")
      // pre-force the video history label memo on the CALLER thread —
      // otherwise the first micro-batch pays the heavy history
      // component loop (and its thread-scoped intermediates) on the
      // stream-execution thread, unlike the sig frames and mu values
      // seeded above
      val histLabels = Multimodal.vidHistLabels(spark, dir)
      nkdMark("histLabels")
      // processed batch ids, newest last. Replay-idempotent by
      // construction (Spark's micro-batch retry contract): every disk
      // write is keyed by batch id with overwrite, and the driver
      // state (the two keep maps + this list) mutates only AFTER all
      // of the batch's Spark jobs succeeded — a replayed batch either
      // fully skips (id already folded) or cleanly overwrites its own
      // partial output and folds once. Visibility: the CopyOnWrite
      // list covers labelsAt()'s cross-thread reads of `processed`;
      // the caller-thread reads of the plain keep MAPS at drain rest
      // on the drain's await for the last batch, which takes the
      // query's progress lock (the happens-before with the stream
      // thread's batch bodies) — replacing that await with status
      // polling would need an explicit fence for the maps.
      val processed = new java.util.concurrent.CopyOnWriteArrayList[Long]()
      // bids whose deferred contraction has been folded into a labels
      // file, newest last — per-batch edge/sig writes accumulate
      // between contractions (see [[VideoContractEvery]])
      val contracted = new java.util.concurrent.CopyOnWriteArrayList[Long]()
      def labelsAt(): DataFrame =
        if (contracted.isEmpty) histLabels
        else spark.read.parquet(s"$tmp/labels_b${contracted.get(contracted.size - 1)}")
      def vidSigsAt(): DataFrame = {
        import scala.jdk.CollectionConverters._
        val hist = vidSig.filter(isHist)
        if (processed.isEmpty) hist
        else hist.unionByName(spark.read.parquet(
          processed.asScala.toSeq.map(b => s"$tmp/vidsigs_b$b"): _*))
      }
      // batches processed since the last contraction. Confluence makes
      // the contraction point free to move; the writes are all keyed
      // by bid with overwrite, and `contracted` mutates only after the
      // labels write succeeded — the same replay discipline as the
      // keep-map folds.
      def pendingBids(): Seq[Long] = {
        import scala.jdk.CollectionConverters._
        val last =
          if (contracted.isEmpty) Long.MinValue
          else contracted.get(contracted.size - 1)
        processed.asScala.toSeq.filter(_ > last)
      }
      def contract(atBid: Long): Unit = {
        val pend = pendingBids()
        if (pend.nonEmpty) {
          val newDocs = spark.read.parquet(pend.map(b => s"$tmp/vidsigs_b$b"): _*)
            .select("doc_id").distinct()
          val edges = spark.read.parquet(pend.map(b => s"$tmp/edges_b$b"): _*)
          (Dedup.maintainLabels(labelsAt(), newDocs, edges)
            .write.mode("overwrite").parquet(s"$tmp/labels_b$atBid"))
          contracted.add(atBid)
        }
      }
      val synth = udf((body: Array[Byte]) => Multimodal.synthPayload(body))
      val reader = spark.readStream
        .schema(documentsSchema)
        .option("pathGlobFilter", glob)
      filesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
      // micro-batch bodies plan without AQE, where the static planner
      // picks SortMergeJoin for the batch-x-store banded probes —
      // sorting the store per batch; hash joins keep the exchanges but
      // drop the sorts (the streamIncrementalMinHash drain's measured
      // trick)
      Streams.drainBatches(reader
          .parquet(srcDir)
          .select(col("doc_id"), col("text"), splitOf.as("split"))
          .filter(col("split") < Dedup.IncBatchThreshold)
          .select(col("doc_id"), synth(encode(col("text"), "UTF-8")).as("payload")),
        Streams.HashJoins) { (batch, bid) =>
        if (!processed.isEmpty && processed.get(processed.size - 1) >= bid) {
          // replayed, fully-committed batch — skip (idempotence)
        } else {
          // per-sig aggregates collected first (bounded by the
          // batch's present sigs) so the driver fold is a pure
          // in-memory step AFTER every Spark job has succeeded
          val imgAgg = Multimodal.sigBatchAgg(
            Multimodal.phashSigFrame(batch, imgMu, "doc_id", "ph"))
          val audAgg = Multimodal.sigBatchAgg(
            Multimodal.audioSigFrame(batch, audMu))
          // the batch's frame sigs feed three consumers (two probe
          // sides, the store write) — checkpoint so the decode
          // kernel runs once per batch
          val vidS = (Multimodal.frameSigFrame(batch, vidMu,
            "doc_id", "sample_no", "ph").localCheckpoint())
          // per-batch work stops at EDGES: the blast-radius probe
          // (batch frames x accumulated store, banded — work
          // proportional to the batch) plus within-batch pairs,
          // written keyed by bid. The label contraction defers —
          // see [[VideoContractEvery]].
          (Multimodal.videoClipPairsProbe(vidS, vidSigsAt())
            .select("doc_a", "doc_b")
            .unionByName(Multimodal.videoClipPairs(vidS)
              .select("doc_a", "doc_b"))
            .write.mode("overwrite").parquet(s"$tmp/edges_b$bid"))
          (vidS.write.mode("overwrite").parquet(s"$tmp/vidsigs_b$bid"))
          // the batch's checkpoint blocks are dead once the writes
          // are done — free them per batch instead of leaving one
          // node-sized block PER MICRO-BATCH to the ContextCleaner
          // (which only runs on driver GC)
          Kernels.checkpointRddId(vidS).foreach { id =>
            spark.sparkContext.getPersistentRDDs.get(id)
              .foreach(_.unpersist(true))
          }
          // driver state LAST — pure in-memory, cannot fail midway
          Multimodal.sigKeepFold(imgKeep, imgAgg)
          Multimodal.sigKeepFold(audKeep, audAgg)
          processed.add(bid)
          // deferred contraction: fold accumulated edges into the
          // label table once enough batches are pending (a replayed
          // batch that died between the labels write and the
          // `contracted` append simply re-contracts at the next
          // point — confluent, and the write is keyed + overwrite)
          if (pendingBids().size >= contractEvery) contract(bid)
        }
        // the label maintenance's component loop registers tracked
        // caches/checkpoints in THIS (stream-execution) thread's
        // scope; drain them per batch — the dead-thread backstop
        // would otherwise hold them for the whole drain
        Kernels.drainThreadScope()
      }
      nkdMark("drain")
      // drain-time contraction of whatever is still pending — on the
      // CALLER thread, so the component loop plans with AQE instead of
      // the micro-batch static planner (the drain's await establishes
      // the happens-before with the stream thread's writes)
      import scala.jdk.CollectionConverters._
      processed.asScala.lastOption.foreach(contract)
      nkdMark("contract")
      def keepRows(m: scala.collection.mutable.Map[Long, (Long, Long)]) =
        m.iterator.map { case (ph, (k, n)) => (ph, k, n) }.toArray
      Kernels.trackedCheckpoint(
        Multimodal.sigKeepComponentRows(spark, keepRows(imgKeep), "image")
          .unionByName(
            Multimodal.sigKeepComponentRows(spark, keepRows(audKeep), "audio"))
          .unionByName(labelsAt()
            .groupBy("cluster").agg(count(lit(1)).as("n_members"))
            .select(lit("video").as("modality"),
              col("cluster").as("keep_id"), col("n_members")))
          .orderBy("modality", "keep_id"))
    } finally graft.operators.Kernels.rmTree(tmp.toFile)
  }

  /** `stream_knn_maintain`: the streaming twin of
    * [[graft.operators.Graph.knnMaintain]] — vectors stream in and
    * each micro-batch recomputes only the trained cells it touches
    * against a per-call versioned directed-list store seeded from the
    * immutable history artifact; the final serve is the mutual join
    * over the drained lists. Because a cell's last touch recomputes it
    * over its full accumulated membership, per-micro-batch appends
    * commute and the drained graph equals the one-shot full-corpus
    * build — `graph_knn`'s oracle text gates this query too.
    */
  def streamKnnMaintain(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Graph, Kernels}
    val mark = Kernels.phaseMarker()
    val hist = Graph.ensureKnnDirectedHistory(spark, dir, Dedup.IncBatchThreshold)
    mark("hist_artifact")
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-knn")
    try {
      spark.read.parquet(hist).write.mode("overwrite")
        .parquet(s"$tmp/lists_v0")
      mark("seed_store")
      // atomic for cross-thread visibility — the streamMediaKeep note
      val version = new java.util.concurrent.atomic.AtomicInteger(0)
      val splitOf =
        substring(md5(concat(lit("inc:"), col("vec_id").cast("string"))), 1, 1)
      Streams.drainBatches(spark.readStream
        .schema(embeddingsSchema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
        .select(col("vec_id"))
        .filter(splitOf < Dedup.IncBatchThreshold)) { (batch, _) =>
        version.set(
          Graph.appendBatchToKnn(batch, dir, tmp.toString, version.get()))
      }
      mark("drain")
      val served = Kernels.trackedCheckpoint(
        Graph.mutualFromDirected(
          spark.read.parquet(s"$tmp/lists_v${version.get()}"))
          .orderBy("vec_a", "vec_b"))
      mark("mutual_serve")
      served
    } finally graft.operators.Kernels.rmTree(tmp.toFile)
  }
}
