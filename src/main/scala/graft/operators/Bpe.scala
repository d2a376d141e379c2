package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Iterative BPE tokenizer TRAINING + vocabulary encoding (north
  * star) — the real multi-round byte-pair-encoding loop, not just the
  * single pair-count round of [[Corpus.bpeMergePairs]].
  *
  * The key scale decision is the STATE SPACE: merges operate on the
  * distinct-WORD frequency table (the classic Sennrich et al. 2016
  * trainer shape), never on the corpus itself — after the one
  * tokenize+count shuffle, every round touches |vocab| rows
  * (corpus-size-independent), and encoding a 100 TB corpus afterwards
  * is a broadcast join of the trained segmentation against the
  * token stream.
  *
  * Each round is fully declarative (no driver-side pick):
  *  1. pair counts: `lead(sym)` per word, weighted by word count —
  *     one combiner-friendly aggregate;
  *  2. the best pair: `ORDER BY total DESC, s1, s2 LIMIT 1` — a
  *     1-row frame CROSS-joined (broadcast) back, so ties break
  *     deterministically and nothing round-trips through the driver;
  *  3. merge application: greedy left-to-right non-overlapping, via
  *     CHAIN PARITY — contiguous runs of pair hits (gaps-and-islands
  *     `pos − row_number()`) merge at even offsets only. For s1 ≠ s2
  *     a hit chain is provably length-1 (a second consecutive hit
  *     would force s2 = s1), so the parity rule degenerates to "merge
  *     every hit"; for s1 = s2 it yields exactly the ⌊run/2⌋
  *     left-aligned merges of a sequential scanner. The consumed
  *     right-neighbor drops via `lag(merge)`, positions renumber, and
  *     the next round reads the rebuilt symbols.
  * The DuckDB oracle replays the identical window chain per round, so
  * the trained merge table and the full vocabulary segmentation are
  * engine-exact.
  */
object Bpe {

  /** Merge rounds trained (each = one learned merge rule). */
  val Rounds = 4

  /** (word, cnt): the distinct lowercase letter-run vocabulary. */
  private def vocab(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial symbols: one row per character position. */
  private def charSyms(v: DataFrame): DataFrame =
    v.select(col("word"), col("cnt"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("cnt"), col("i").cast("long").as("pos"),
        expr("substr(word, i, 1)").as("sym"))

  /** One merge round: returns (rebuilt symbols, the 1-row best pair).
    *
    * The best pair is cut (eager, 1 row) before the
    * cross-join back: `p` (and through it `syms`) would otherwise be
    * embedded TWICE in the round's plan — once under `best`, once under
    * `m` — and with rounds nesting that doubling compounds to ~2^R
    * copies of the tokenize+count subtree (the r3 `dedup_clusters`
    * lineage bug in miniature; at a real tokenizer's 32k merges it's a
    * scale-killer). The caller cuts the rebuilt symbols, so
    * every round starts from a materialized vocab-sized frame and the
    * plan depth stays CONSTANT per round.
    */
  private def oneRound(syms: DataFrame): (DataFrame, DataFrame) = {
    val wpos = Window.partitionBy("word").orderBy("pos")
    val p = syms.withColumn("nxt", lead(col("sym"), 1).over(wpos))
    val best = Kernels.cut(p.filter(col("nxt").isNotNull)
      .groupBy(col("sym").as("s1"), col("nxt").as("s2"))
      .agg(sum("cnt").as("total"))
      .orderBy(col("total").desc, col("s1"), col("s2"))
      .limit(1))
    val m = p.crossJoin(broadcast(best))
      .withColumn("pairh",
        col("sym") === col("s1") && col("nxt").isNotNull && col("nxt") === col("s2"))
    val c = m
      .withColumn("grp",
        col("pos") - row_number().over(Window.partitionBy("word", "pairh").orderBy("pos")))
      .withColumn("mrg", when(col("pairh"),
          (row_number().over(
            Window.partitionBy("word", "pairh", "grp").orderBy("pos")) - 1) % 2 === 0)
        .otherwise(lit(false)))
    val rebuilt = c
      .withColumn("consumed", lag(col("mrg"), 1, false).over(wpos))
      .filter(!col("consumed"))
      .select(col("word"), col("cnt"),
        row_number().over(wpos).cast("long").as("pos"),
        when(col("mrg"), concat(col("sym"), col("nxt"))).otherwise(col("sym")).as("sym"))
    (rebuilt, best)
  }

  // Trained state (final symbols + merge rules) is memoized per corpus
  // fingerprint — `bpe_vocab_encode` and `bpe_merge_table` are two
  // views of ONE training run and must not re-derive it (the
  // KMeansCodebook.train pattern). The memo holds only cut
  // vocab-sized frames, so keeping it for the session costs |vocab|
  // rows, not corpus, and it frees them when a new fingerprint
  // supersedes it. Cut blocks belong to the SparkContext that made
  // them: sessions of one live context share the memo, and once that
  // context stops its entry counts as absent (Kernels.memo), so a new
  // context retrains instead of serving frames whose blocks are gone.
  /** Final symbol frame + the per-round merge rules. */
  private def train(spark: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) =
    Kernels.memo("bpe-train", Kernels.inputKey(dir, "documents.parquet")) {
      trained(spark, dir, Rounds)
    }

  /** The training loop: `rounds` merge rounds over the vocabulary,
    * returning the final symbols and each round's best pair. Each
    * round's rebuilt symbols are cut (eager), which bounds lineage
    * depth and runs the round's shuffle once for both queries; the
    * intermediate rounds' cuts are freed when the loop returns.
    *
    * `probe` sees (round, analyzed-plan node count of the round's
    * REBUILT frame): the lineage-depth contract made observable. Every
    * round starts from the previous round's cut, so the count must stay
    * CONSTANT from round 2 on — growth is exactly the ~2^R plan
    * compounding the cut exists to prevent (spec-asserted at 16
    * rounds).
    */
  private[graft] def trained(spark: SparkSession, dir: String, rounds: Int,
      probe: (Int, Int) => Unit = (_, _) => ()): (DataFrame, Seq[DataFrame]) =
    Kernels.releasing {
      var syms = charSyms(vocab(spark, dir))
      val merges = (1 to rounds).map { r =>
        val (next, best) = oneRound(syms)
        probe(r, next.queryExecution.analyzed.collect { case n => n }.size)
        syms = Kernels.cut(next)
        best
      }
      (syms, merges)
    }

  /** `bpe_vocab_encode`: every vocabulary word's segmentation after
    * [[Rounds]] learned merges, with its corpus frequency.
    */
  def vocabEncode(spark: SparkSession, dir: String): DataFrame = {
    val (syms, _) = train(spark, dir)
    syms.groupBy("word", "cnt")
      .agg(count(lit(1)).as("n_syms"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("sym")))),
          x => x.getField("sym"))).as("encoding"))
      .orderBy("word")
  }

  /** `bpe_merge_table`: the learned merge rules in training order with
    * their weighted pair counts — the tokenizer artifact a 100 TB
    * encode job broadcasts.
    */
  def mergeTable(spark: SparkSession, dir: String): DataFrame = {
    val (_, merges) = train(spark, dir)
    merges.zipWithIndex.map { case (b, i) =>
      b.select(lit(i + 1L).as("round"), col("s1"), col("s2"),
        col("total").cast("long").as("total"))
    }.reduce(_.unionByName(_)).orderBy("round")
  }

  /** Materializes the trained merge table to `path` as parquet — the
    * DURABLE half of the memoization story. The training memo only
    * caches within the training context (cut blocks die
    * with it); production pipelines train once in a build job, write
    * this artifact, and every consumer — a 100 TB encode job, a fresh
    * session, another JVM — reads the parquet instead of retraining.
    * Tiny ([[Rounds]] rows), so the single output file is deliberate.
    */
  def writeMergeTable(spark: SparkSession, dir: String, path: String): Unit =
    mergeTable(spark, dir).coalesce(1).write.mode("overwrite").parquet(path)

  /** Serves the merge table from a [[writeMergeTable]] artifact — no
    * training, no memo, no dependence on the writer session being
    * alive; callable from any session that can read the path. Returned
    * in training order, the [[mergeTable]] contract.
    */
  def mergeTableFrom(spark: SparkSession, path: String): DataFrame =
    Tables.parquet(spark, path).orderBy("round")
}
