package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus sampling, mixing, and sequence packing — the selection ops a
  * training-data pipeline runs between dedup and export (north star;
  * not reference-derived — SURVEY.md §2.5 notes the reference has no
  * sampling surface).
  *
  * Every operator here is DETERMINISTIC: selection is driven by md5 of
  * a salted key, never by `rand()`. That is the scale idiom — a sample
  * defined by a pure function of the row is reproducible across runs,
  * engines, retries and cluster sizes, can be re-derived for any
  * subset, and needs no seed-distribution machinery. It also makes the
  * operators oracle-checkable bit-for-bit (DuckDB computes the same
  * md5). All three samplers are map-only over the corpus — zero
  * shuffle at 100 TB except where a per-stratum quota genuinely
  * requires one.
  */
object Sampling {

  /** Keep-fraction ≈ 13/256 (the first md5 hex byte < 0x0d): string
    * comparison on the fixed-width hex prefix equals value comparison,
    * so both engines agree without any hex→int conversion.
    */
  val HashSampleThreshold = "0d"

  private def saltedHash(salt: String, key: Column): Column =
    md5(concat(lit(salt + ":"), key.cast("string")))

  /** Uniform reproducible sample: keep a document iff the first hex
    * byte of md5("smp:doc_id") falls below the threshold. Map-only —
    * the filter rides the parquet scan; no shuffle, no seed state; the
    * same rows are kept at any parallelism and on any engine.
    */
  def hashSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(substring(saltedHash("smp", col("doc_id")), 1, 2) < HashSampleThreshold)
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy("doc_id")

  val StratifiedQuota = 20

  /** Per-stratum quota sample: the `StratifiedQuota` docs per source
    * ranked first under the deterministic hash order (tie-break doc_id).
    *
    * 100 TB shape — the window input is BOUNDED, not the whole stratum:
    * a whale stratum would otherwise funnel every row through one
    * window partition. A bottom-k threshold pass runs first, riding the
    * bounded `graft_topk` partial aggregate (map tasks reduce to ≤
    * quota entries per stratum BEFORE the exchange, so the threshold
    * aggregate shuffles ≤ quota·|strata| rows); the per-stratum
    * quota-th-smallest hash value then broadcasts, and only rows at or
    * below it reach the exact rank window (≈ quota per stratum).
    *
    * The pre-filter is LOSSLESS, so the selection is identical to the
    * plain full-stratum window: it compares the hash's first 52 bits
    * (13 hex chars — exact in double), and truncation is monotone, so
    * the q-th truncated order statistic IS the truncation of the q-th
    * full hash; filtering `prefix ≤ threshold` inclusively keeps every
    * row whose full hash is ≤ the q-th full hash (plus any
    * prefix-collision stragglers, which the exact rank then drops).
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val h = saltedHash("str", col("doc_id"))
    val base = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), hashPrefix52(h).as("hv"))
    val thresholds = prefixQuotaThresholds(
      spark, base, "source", col("doc_id"), StratifiedQuota, exhaustive = false)
    val w = Window.partitionBy("source").orderBy(h, col("doc_id"))
    base.join(broadcast(thresholds), "source")
      .filter(col("hv") <= col("hmax"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= StratifiedQuota)
      .select(col("source"), col("doc_id"), col("rk"))
      .orderBy("source", "doc_id")
  }

  /** The hash's first 52 bits (13 hex chars) as an exactly-representable
    * double — the prefix every bounded-topk gate compares on.
    */
  private[graft] def hashPrefix52(h: Column): Column =
    conv(substring(h, 1, 13), 16, 10).cast("double")

  /** The shared threshold pass of every lossless bounded-topk prefix
    * gate ([[stratifiedSample]]'s construction, reused by
    * [[mixTokenBudget]] and
    * [[graft.operators.KMeansCodebook.clusterBalancedSample]]): a
    * map-side-partial `graft_topk` collects each key's `quota` smallest
    * 52-bit prefixes from `rows` (which must carry `keyCol` and an
    * `hv` = [[hashPrefix52]] column; map tasks reduce to ≤ quota
    * entries per key BEFORE the exchange), and the returned
    * (key, hmax) frame broadcasts back so an INCLUSIVE `hv <= hmax`
    * filter gates the corpus in front of the exact window — lossless
    * because md5 truncation is monotone (the q-th truncated order
    * statistic IS the truncation of the q-th full hash) and
    * prefix-collision stragglers fall to the exact window.
    *
    * `exhaustive = false` — rank-quota selections, where the window
    * itself cuts at `quota`: hmax is the quota-th smallest prefix, or
    * the key's max when the key is smaller (the gate then keeps the
    * whole key, which the rank truncates anyway).
    * `exhaustive = true` — budget selections, where gated rows beyond
    * the quota-th CONTRIBUTOR may legitimately still be kept: hmax is
    * the quota-th smallest only when the key has a full `quota`
    * contributing rows, else +∞ (a key without enough contributors can
    * never be cut by the bound at all).
    */
  private[graft] def prefixQuotaThresholds(spark: SparkSession,
      rows: DataFrame, keyCol: String, id: Column, quota: Long,
      exhaustive: Boolean): DataFrame = {
    // the bounded-topk partial aggregate holds `quota` entries per key
    // map-side — an Int by the aggregator's contract. Budgets arrive
    // as Long (e.g. TokenBudget + 1); make the narrowing a checked
    // precondition instead of a silent wrap.
    require(quota > 0 && quota <= Int.MaxValue,
      s"bounded-topk quota must fit an Int, got $quota")
    val q = quota.toInt
    // graft_topk orders score DESC, so the NEGATED prefix yields bottom-k
    val bk = graft.functions.TopKFunctions.topK(
      spark, negate(col("hv")), id, lit(q))
    val hmax =
      if (exhaustive)
        when(size(col("bk")) === q,
          negate(element_at(col("bk"), q).getField("score")))
          .otherwise(lit(Double.MaxValue))
      else
        negate(element_at(col("bk"), least(size(col("bk")), lit(q)))
          .getField("score"))
    rows.groupBy(keyCol).agg(bk.as("bk"))
      .select(col(keyCol), hmax.as("hmax"))
  }

  /** Weighted source mixing: each source gets its own keep-rate, and a
    * document is kept iff its hash falls under the source's rate. The
    * rate is itself hash-derived (first hex byte of md5("w:source")),
    * standing in for the weights table a real mixing config would
    * supply — what matters is the SHAPE: rate lookup is a pure
    * function of the stratum, selection a pure function of the row, so
    * the mix is map-only, reproducible, and rebalanceable by editing
    * only the weights. (This is how pipelines mix e.g. 3 parts web to
    * 1 part code at 100 TB — no shuffle, no per-source passes.)
    */
  def weightedMix(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(substring(saltedHash("mix", col("doc_id")), 1, 2)
        < substring(saltedHash("w", col("source")), 1, 2))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  /** Per-source token budget for [[mixTokenBudget]]. */
  val TokenBudget = 800L

  /** `mix_token_budget`: EXACT per-source token-budget selection — keep
    * documents in deterministic hash order until each source's
    * cumulative token count reaches [[TokenBudget]]. This is the mixing
    * primitive recipes state in TOKENS ("50 B tokens of web, 10 B of
    * code"): [[weightedMix]]'s rate-based filter hits a budget only in
    * expectation and drifts with the source's size and length mix; the
    * cumulative cut lands the budget exactly (to one document) and
    * REBALANCES itself as the corpus grows — the keep-set is a pure
    * function of (hash order, token counts, budget).
    *
    * Scale: the cumulative sum needs a per-source window, but the
    * window NEVER sees a whale source — the [[stratifiedSample]]
    * bounded-topk pre-filter composes in front with quota
    * `TokenBudget + 1`: a kept row has cumulative tokens ≤ budget, so
    * at most `TokenBudget` token-bearing documents precede or equal it
    * in hash order (each contributes ≥ 1), hence its hash is ≤ the
    * (budget+1)-th smallest hash among the source's token-bearing
    * docs. Filtering on that per-source threshold (partial-aggregated
    * map-side, broadcast back) is therefore LOSSLESS — the same
    * truncation-monotonicity argument as [[stratifiedSample]] covers
    * the 52-bit prefix comparison — and caps the window's input at
    * ~budget rows per source no matter how large the source is. Two
    * edge cases keep the bound honest: a source with ≤ budget
    * token-bearing docs has no (budget+1)-th hash, so its threshold is
    * +∞ (every row may legally land under the budget); zero-token docs
    * (which consume no budget and may sit anywhere in the kept prefix)
    * are EXCLUDED from the threshold aggregate but still gated by it,
    * which the bound above covers since they add nothing to the
    * cumulative sum. The exact cumsum window then decides, as before.
    */
  def mixTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val h = saltedHash("tb", col("doc_id"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        hashPrefix52(h).as("hv"))
    // exhaustive thresholds over the CONTRIBUTING (token-bearing) rows
    // only — see prefixQuotaThresholds for the two edge cases
    val thresholds = prefixQuotaThresholds(
      spark, docs.filter(col("n_tokens") >= 1L), "source", col("doc_id"),
      TokenBudget + 1, exhaustive = true)
    val w = Window.partitionBy("source").orderBy(h, col("doc_id"))
    // left join: a source whose docs are ALL zero-token has no
    // threshold row — every doc is kept (cum stays 0)
    docs.join(broadcast(thresholds), Seq("source"), "left")
      .filter(col("hmax").isNull || col("hv") <= col("hmax"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= TokenBudget)
      .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy("source", "cum_tokens")
  }

  /** 2^64 — the keep test compares against `u² < 2^64 · n_min/n_s`
    * cross-multiplied into pure integers (see [[temperatureMix]]).
    */
  private val TwoPow64 = "18446744073709551616"

  /** `sample_temperature`: temperature-scaled language rebalancing —
    * the mT5/XLM-R recipe. Each language's keep probability is
    * p_lang = (n_lang / n_min)^(α−1) with α = 0.5, i.e.
    * √(n_min/n_lang): the smallest language is kept whole and every
    * larger one is down-sampled toward the α-tempered multinomial,
    * flattening the head without starving the tail. Unlike
    * [[weightedMix]] (rates supplied as config), the rates here are
    * DATA-DEPENDENT — computed from the per-language counts the corpus
    * itself yields.
    *
    * Determinism at the boundary: the per-doc uniform draw is
    * u = first 8 md5 hex digits ∈ [0, 2^32), and the keep test
    * `(u/2^32)² < n_min/n_lang` is cross-multiplied to
    * `u²·n_lang < 2^64·n_min` — evaluated in exact integer (decimal)
    * arithmetic, so there is NO floating-point at the selection
    * boundary and both engines agree bit-for-bit on every row (a
    * double sqrt threshold would make boundary rows engine-dependent).
    *
    * 100 TB shape: one combiner-friendly count aggregate producing
    * |languages| rows, broadcast back over the corpus; the keep test
    * itself is map-only and rides the scan. Rebalancing a corpus never
    * shuffles the corpus.
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    // cached: counts feeds both the rate frame and its own min — the
    // |languages|-row pin saves a second (and third) corpus scan
    val counts = Kernels.cacheTracked(
      docs.groupBy("lang").agg(count(lit(1)).as("n_s")))
    val rates = counts.crossJoin(broadcast(counts.agg(min("n_s").as("n_min"))))
    val u = conv(substring(saltedHash("temp", col("doc_id")), 1, 8), 16, 10)
      .cast("decimal(20,0)")
    docs.join(broadcast(rates), "lang")
      .filter(u * u * col("n_s").cast("decimal(12,0)") <
        lit(TwoPow64).cast("decimal(20,0)") * col("n_min").cast("decimal(12,0)"))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  val ExportShards = 8

  /** Deterministic global shuffle for training export: order the corpus
    * pseudo-randomly (by a salted hash), split it into [[ExportShards]]
    * output shards, and number positions within each shard. Training
    * runs need the corpus de-clustered (no source/time runs) but
    * REPRODUCIBLE — so the permutation is a pure function of the row,
    * not `rand()`. One shuffle on the shard key; each shard sorts
    * independently (shards are the export-parallelism unit, so the op
    * scales by adding shards — never a global single-partition sort).
    */
  def exportShuffle(spark: SparkSession, dir: String): DataFrame = {
    val h = saltedHash("shuf", col("doc_id"))
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), h.as("h"),
        (conv(substring(h, 1, 1), 16, 10).cast("long") % ExportShards).as("shard"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  /** Quality bands for [[exportCurriculum]] (band = ⌊quality·4⌋,
    * clamped — four coarse difficulty tiers).
    */
  val CurriculumBands = 4L

  /** `export_curriculum`: curriculum-ordered training export — within
    * each shard, documents are ordered highest-quality-band FIRST
    * (clean data early, the standard curriculum/annealing recipe),
    * hash-shuffled within a band so a band is not source- or
    * id-ordered. Composes the shared quality expression
    * ([[TextAnalysis.quality]] — bit-identical to
    * `quality_score`) with [[exportShuffle]]'s shard/pos contract:
    * same per-shard windows (scale: |corpus|/shards rows each, never a
    * global sort), same deterministic md5 order, so a trainer reading
    * shards in parallel streams band-descending data with zero extra
    * passes. At 100 TB the quality column is a map-only expression on
    * the scan and the only exchange is the shard partitioning the
    * export writes with anyway.
    */
  def exportCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val h = saltedHash("cur", col("doc_id"))
    val q = docs
      .select(col("doc_id"), TextAnalysis.quality(col("toks")).as("quality"))
      .withColumn("band",
        least(floor(col("quality") * CurriculumBands).cast("long"),
          lit(CurriculumBands - 1)))
      .withColumn("h", h)
      .withColumn("shard",
        (conv(substring(col("h"), 1, 1), 16, 10).cast("long") % ExportShards))
    val w = Window.partitionBy("shard")
      .orderBy(col("band").desc, col("h"), col("doc_id"))
    q.withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("quality"), col("band"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  val MaxEpochs = 3

  /** Epoch-weighted mixing, the >1-epoch side of [[weightedMix]]: each
    * source repeats 1..[[MaxEpochs]] times per training pass (the
    * "high-quality sources see more epochs" recipe). The per-source
    * epoch count is md5-derived (deterministic, engine-reproducible —
    * a real pipeline would read a weights table) and each doc explodes
    * into (doc, epoch=1..k) rows — map-only replication that rides the
    * scan, no shuffle, output size Σ k_s·|source_s|.
    */
  def mixEpochs(spark: SparkSession, dir: String): DataFrame = {
    val epochs = (conv(substring(md5(concat(lit("ep:"), col("source"))), 1, 1), 16, 10)
      .cast("long") % MaxEpochs + 1).as("n_epochs")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), epochs)
      .select(col("doc_id"), col("source"), col("n_epochs"),
        explode(sequence(lit(1L), col("n_epochs"))).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  val PackShards = 16
  val PackBudget = 2048

  /** Sequence packing: assign documents to fixed token-budget packs for
    * training export. Documents are sharded (`doc_id % PackShards`),
    * ordered within the shard, and a pack is `PackBudget` tokens of
    * running text: pack_no = (exclusive running token total) div
    * budget — i.e. a document lands in the pack its first token falls
    * into (offset binning; the streaming-friendly packing rule).
    *
    * Scale shape: the running total is a window sum PARTITIONED BY
    * SHARD — never a global single-partition window (Spark would plan
    * `ORDER BY` with no partition as one task). Shards are the unit of
    * export parallelism; each is an independent prefix-sum, so the op
    * scales by adding shards. Token counts use the same letter-run
    * tokenizer as [[TextAnalysis.tokenStats]].
    */
  /** `split_leakage_safe` split fractions: first md5 hex byte of the
    * CLUSTER representative — < 0x0a (≈4%) test, < 0x14 (next ≈4%)
    * valid, rest train.
    */
  val SplitTestThreshold = "0a"
  val SplitValidThreshold = "14"

  /** `split_leakage_safe`: cluster-aware train/valid/test assignment —
    * each document's split is the salted hash of its NEAR-DUP CLUSTER
    * representative ([[Dedup.clusters]]' label), not of its own id, so
    * a document and all its near-duplicates always land in the same
    * split. This is the eval-split hygiene rule a per-doc hash split
    * silently violates: with near-dups straddling train/test, the
    * "held-out" set is partially memorizable and eval numbers inflate.
    *
    * Scale shape: the cluster labeling is [[Dedup.clusters]]' bucketed
    * near-dup pass (paid once per corpus build and shared with the
    * keep-list); on top of it the split is ONE map-side hash of the
    * label — no new shuffle, no coordination, reproducible on any
    * engine and at any parallelism. Adding documents later never moves
    * an existing cluster between splits (the hash depends only on the
    * representative id), the property that keeps longitudinal evals
    * comparable across corpus releases.
    */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = substring(saltedHash("split", col("cluster")), 1, 2)
    Dedup.clusters(spark, dir)
      .select(col("doc_id"), col("cluster"),
        when(h < SplitTestThreshold, "test")
          .when(h < SplitValidThreshold, "valid")
          .otherwise("train").as("split"))
      .orderBy("doc_id")
  }

  val MediaPackShards = 8
  val MediaPackBudget = 4096L // bytes per pack

  /** `pack_media`: byte-budget packing of the DEDUPED media corpus —
    * the export stage the multimodal family stopped short of (text
    * reaches training order through [[packSequences]]/[[exportShuffle]];
    * media rows never did): the [[Multimodal.mediaKeep]] keep-list's
    * surviving representatives are hash-sharded, de-clustered within
    * each shard by the salted-md5 permutation (the [[exportShuffle]]
    * reproducibility contract — no `rand()`), position-numbered, and
    * binned into fixed BYTE-budget packs — media rows budget by
    * payload bytes, not tokens: pack_no = (exclusive running byte
    * total) div [[MediaPackBudget]], i.e. a clip lands in the pack its
    * first byte falls into ([[packSequences]]' streaming-friendly
    * offset-binning rule).
    *
    * Scale shape: the keep-list is the (already-paid) dedup product;
    * sizing is one map-side `octet_length` on the document scan joined
    * by keep_id; the permutation/prefix-sum/position windows are all
    * PARTITIONED BY SHARD — |keep|/shards rows each, never a global
    * single-partition sort — and shards are the unit of export
    * parallelism, so the op scales by adding shards. The spec pins
    * that packs tile the keep-list exactly (every survivor in exactly
    * one (shard, pack, pos) slot, prefix sums reconstructed).
    */
  def packMedia(spark: SparkSession, dir: String): DataFrame = {
    val keep = Multimodal.mediaKeep(spark, dir).select("modality", "keep_id")
    val sized = keep.join(
      Tables.documents(spark, dir)
        .select(col("doc_id").as("keep_id"),
          octet_length(col("text")).cast("long").as("n_bytes")),
      "keep_id")
    val byShard = Window.partitionBy("shard").orderBy("h", "keep_id")
    sized.withColumn("h", saltedHash("mpack", col("keep_id")))
      .withColumn("shard",
        conv(substring(col("h"), 1, 1), 16, 10).cast("long") % MediaPackShards)
      .withColumn("run", coalesce(sum("n_bytes").over(
        byShard.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("pos", row_number().over(byShard).cast("long"))
      .select(col("keep_id"), col("modality"), col("shard"), col("n_bytes"),
        expr(s"run div $MediaPackBudget").as("pack_no"), col("pos"))
      .orderBy("shard", "pos")
  }

  /** Sampled keep-fraction of the media flagship: first md5 hex BYTE of
    * the salted keep id below 0x80 ≈ 50% — the text pipeline's
    * [[Corpus.PipeSampleThreshold]] rate at the media salt.
    */
  val MediaPipeSampleThreshold = "80"

  /** `pipeline_media_training_set`: the cross-modal FLAGSHIP — the
    * media curation stages composed into ONE declarative plan, the way
    * [[Corpus.trainingSet]] composes the text pipeline (dedup →
    * quality → decontaminate → sample → pack): the NEAR-dup keep-list
    * ([[Multimodal.mediaKeepNearDup]] — transitive closure over all
    * three modalities' banded pair streams, the strongest dedup tier;
    * [[packMedia]] packs the signature-EXACT tier) → deterministic
    * hash sample (md5("mpipe:" + keep_id) prefix below
    * [[MediaPipeSampleThreshold]] — a pure function of the row:
    * reproducible across runs, engines, retries and cluster sizes, no
    * `rand()`) → byte-budget pack layout ([[packMedia]]'s
    * shard/permute/prefix-sum/bin stages over the sampled survivors,
    * same salts so the layouts stay comparable). The emitted manifest
    * — (keep_id, modality, n_members, shard, n_bytes, pack_no, pos) —
    * is what a multimodal export job actually ships: each surviving
    * representative's pack assignment plus the cluster mass it stands
    * for.
    *
    * Scale shape: the keep-list is the (already-amortized) dedup
    * product; the sample is a map-side predicate ON the keep frame —
    * it never touches dropped clusters' members; sizing is one
    * map-side `octet_length` joined by keep id; every window
    * partitions by SHARD (|sample|/shards rows each, never a global
    * single-partition sort), and shards are the unit of export
    * parallelism. One declarative plan end to end — Catalyst sees
    * all four stages at once, so the sample predicate prunes before
    * the size join and nothing materializes between stages.
    */
  def mediaTrainingSet(spark: SparkSession, dir: String): DataFrame = {
    // the keep-list arrives as the DURABLE published artifact (a
    // parquet scan), not an in-plan derivation — the flagship consumes
    // the table a production pipeline would have shipped
    val keep = Multimodal.mediaKeepNearDupArtifact(spark, dir)
      .filter(substring(saltedHash("mpipe", col("keep_id")), 1, 2)
        < MediaPipeSampleThreshold)
      .select("modality", "keep_id", "n_members")
    val sized = keep.join(
      Tables.documents(spark, dir)
        .select(col("doc_id").as("keep_id"),
          octet_length(col("text")).cast("long").as("n_bytes")),
      "keep_id")
    // the near-dup keep-list can carry one doc under TWO modalities
    // (the pixel phash probes every payload cross-format), so the
    // permutation order needs modality as a final tie-break to stay
    // total — (h, keep_id) alone left the two rows' relative order
    // engine-dependent
    val byShard = Window.partitionBy("shard").orderBy("h", "keep_id", "modality")
    sized.withColumn("h", saltedHash("mpack", col("keep_id")))
      .withColumn("shard",
        conv(substring(col("h"), 1, 1), 16, 10).cast("long") % MediaPackShards)
      .withColumn("run", coalesce(sum("n_bytes").over(
        byShard.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("pos", row_number().over(byShard).cast("long"))
      .select(col("keep_id"), col("modality"), col("n_members"), col("shard"),
        col("n_bytes"), expr(s"run div $MediaPackBudget").as("pack_no"), col("pos"))
      .orderBy("shard", "pos")
  }

  /** `pipeline_full_training_set`: the UNIFIED text+media flagship — a
    * real multimodal curation run ships ONE budgeted export, not a
    * text manifest and a media manifest side by side. Composition:
    * [[Corpus.trainingSurvivors]] (the text pipeline's full dedup →
    * quality → decontaminate → sample chain) and the mpipe-sampled
    * media near-dup keep-list (read from the DURABLE published
    * artifact, [[Multimodal.mediaKeepNearDupArtifact]]) union into one
    * item stream — text rows as modality `"text"` with member count 1
    * (exact dedup already collapsed their copies), media rows carrying
    * their cluster mass — then ONE shard/byte-budget layout over the
    * union: the `mpack` salt, [[MediaPackShards]] shards and the
    * [[MediaPackBudget]] byte bins, i.e. the SAME scheme (same salts)
    * as [[mediaTrainingSet]], so the unified layout stays comparable
    * with the media-only one. Budgeting is by BYTES for every
    * modality — the one currency text and media share (what an export
    * actually ships); the text-only flagship keeps its token-budget
    * packing as the text-native view.
    *
    * Scale shape: both inputs are already-amortized pipeline products
    * (the text survivor chain's own shuffles, the published keep
    * artifact's parquet scan); sizing is one map-side `octet_length`
    * equi-join against the document scan; the permutation /
    * prefix-sum / position windows all partition by SHARD. One
    * declarative plan end to end.
    */
  def fullTrainingSet(spark: SparkSession, dir: String): DataFrame = {
    val text = Corpus.trainingSurvivors(spark, dir)
      .select(col("doc_id").as("item_id"), lit("text").as("modality"),
        lit(1L).as("n_members"))
    val media = Multimodal.mediaKeepNearDupArtifact(spark, dir)
      .filter(substring(saltedHash("mpipe", col("keep_id")), 1, 2)
        < MediaPipeSampleThreshold)
      .select(col("keep_id").as("item_id"), col("modality"), col("n_members"))
    val sized = text.unionByName(media).join(
      Tables.documents(spark, dir)
        .select(col("doc_id").as("item_id"),
          octet_length(col("text")).cast("long").as("n_bytes")),
      "item_id")
    // modality tie-break: one payload can survive as text AND media
    val byShard = Window.partitionBy("shard").orderBy("h", "item_id", "modality")
    sized.withColumn("h", saltedHash("mpack", col("item_id")))
      .withColumn("shard",
        conv(substring(col("h"), 1, 1), 16, 10).cast("long") % MediaPackShards)
      .withColumn("run", coalesce(sum("n_bytes").over(
        byShard.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("pos", row_number().over(byShard).cast("long"))
      .select(col("item_id"), col("modality"), col("n_members"), col("shard"),
        col("n_bytes"), expr(s"run div $MediaPackBudget").as("pack_no"), col("pos"))
      .orderBy("shard", "pos")
  }

  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % PackShards).as("shard"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("run", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"run div $PackBudget").as("pack_no"))
      .orderBy("doc_id")
  }
}
