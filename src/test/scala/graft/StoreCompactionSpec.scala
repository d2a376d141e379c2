package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.streaming.DocStream

/** Compaction contracts for the two append-only stores: the rewritten
  * store must hold a BOUNDED number of files (consolidation is the
  * point), and serving from it must be bit-identical to serving from
  * the appended original (compaction moves rows between files, never
  * changes them; sketch compaction merges losslessly).
  */
class StoreCompactionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  private def partFiles(dir: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
  }

  test("search-store compaction: bounded files, bit-identical serve") {
    val root = SparkTestSession.tmpDir("graft-compact-spec").toString
    // replay three ingest appends (the stream's foreachBatch body) so
    // the store accumulates one small-file set per batch — the
    // append-forever shape compaction exists to fix
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    Seq(0L -> 160L, 160L -> 320L, 320L -> Long.MaxValue).zipWithIndex.foreach {
      case ((lo, hi), bid) =>
        DocStream.appendSearchBatch(
          docs.filter(col("doc_id") >= lo && col("doc_id") < hi), bid, root)
    }
    val before = partFiles(s"$root/postings")
    assert(before > DocStream.SearchStoreBuckets,
      s"three appended batches must exceed the bucket budget (saw $before files)")
    val serveDf = DocStream.serveBm25(spark, root)
    // the store serve shares bm25's window-free df contract: df is a
    // partial-aggregated groupBy(term).count over the matched postings,
    // broadcast-joined back — never a per-term count window whose
    // single-task buffer a stopword term would blow up at scale
    val servePlan = serveDf.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!servePlan.contains("Window"),
      s"store serve must stay window-free:\n${servePlan.take(800)}")
    val served = serveDf.collect().map(_.toSeq).toSet
    // row capture must precede compaction: the swap REPLACES the
    // appended originals in place
    val rowsBefore = Store.read(spark, root, "postings")
      .collect().map(_.toSeq).toSet
    DocStream.compactSearchStore(spark, root)
    // the swap leaves the compacted files at the store's location
    val (p, d) = (s"$root/postings", s"$root/doclen")
    assert(!new java.io.File(s"$root/postings_c").exists(),
      "the _c staging dir must be gone after the swap — no doubled footprint")
    assert(partFiles(p) <= DocStream.SearchStoreBuckets && partFiles(p) < before,
      s"compaction must consolidate ${before} appended files into ≤ ${DocStream.SearchStoreBuckets}")
    assert(partFiles(d) <= DocStream.SearchStoreBuckets)
    // row-preservation, not just serve-equality: the rewrite must move
    // every posting and invent none
    val rowsAfter = Store.read(spark, root, "postings").collect().map(_.toSeq).toSet
    assert(rowsAfter == rowsBefore, "compaction must preserve the exact posting rows")
    val servedC = DocStream.serveBm25(spark, root).collect().map(_.toSeq).toSet
    assert(servedC == served, "serving from the compacted store must be bit-identical")
  }

  test("index-store compaction: one file per cluster dir, pruning layout intact, identical serve") {
    val base = ProductQuant.ensureHistoryArtifact(spark, sf)
    val delta = ProductQuant.ensureMaintainedDelta(spark, sf)
    // the maintained store holds a file set per touched cluster dir in
    // each layer; compaction must bound it at one
    val before = partFiles(s"$base/codes") + partFiles(s"$delta/codes")
    val croot = ProductQuant.ensureCompactedIndex(spark, sf)
    val clusters = spark.read.parquet(s"$croot/codes")
      .select("cluster").distinct().count()
    assert(partFiles(s"$croot/codes") == clusters && partFiles(s"$croot/codes") < before,
      s"codes: $before appended files must consolidate to one per cluster ($clusters)")
    assert(partFiles(s"$croot/assignment") ==
      spark.read.parquet(s"$croot/assignment").select("cluster").distinct().count())
    // layout preserved: the same cluster partition values exist, so the
    // probed-cell static filter prunes identically
    val codes = ProductQuant.maintainedTable(spark, sf, "codes")
    val dirsBefore = codes
      .select("cluster").distinct().collect().map(_.get(0).toString).toSet
    val dirsAfter = spark.read.parquet(s"$croot/codes")
      .select("cluster").distinct().collect().map(_.get(0).toString).toSet
    assert(dirsAfter == dirsBefore)
    // row preservation and serve equality
    val rowsBefore = codes
      .select("vec_id", "ss", "code", "cluster").collect().map(_.toSeq).toSet
    val rowsAfter = spark.read.parquet(s"$croot/codes")
      .select("vec_id", "ss", "code", "cluster").collect().map(_.toSeq).toSet
    assert(rowsAfter == rowsBefore, "compaction must preserve the exact code rows")
    val served = ProductQuant.annIvfPqMaintain(spark, sf).collect().map(_.toSeq)
    val servedC = ProductQuant.annIvfPqCompact(spark, sf).collect().map(_.toSeq)
    Dedup.retireCaches()
    assert(servedC.nonEmpty && servedC.toSeq == served.toSeq,
      "the compacted index must serve the maintained answer bit-for-bit")
  }

  test("sketch-store maintenance: day-append builds equal the one-shot store table-for-table") {
    val root = SparkTestSession.tmpDir("graft-sketch-maint-spec").toString
    Sketches.writeMaintainedSketchStore(spark, sf, root)
    val oneShot = SparkTestSession.tmpDir("graft-sketch-oneshot-spec").toString
    Sketches.writeSketchStore(spark, sf, oneShot)
    // per-day builds are day-local, so history-pass + per-day appends
    // must reproduce the one-shot store exactly — grid cells AND the
    // per-day bottom-k sketches
    val g1 = spark.read.parquet(s"$root/cms")
      .select("day", "j", "b", "cnt").collect().map(_.toSeq).toSet
    val g2 = spark.read.parquet(s"$oneShot/cms")
      .select("day", "j", "b", "cnt").collect().map(_.toSeq).toSet
    assert(g1 == g2, "maintained CM grids must equal the one-shot grids")
    val k1 = spark.read.parquet(s"$root/kmv")
      .select(col("day"), to_json(col("mins")).as("m")).collect().map(_.toSeq).toSet
    val k2 = spark.read.parquet(s"$oneShot/kmv")
      .select(col("day"), to_json(col("mins")).as("m")).collect().map(_.toSeq).toSet
    assert(k1 == k2, "maintained KMV sketches must equal the one-shot sketches")
    // the ingest tail really was appended: its day partitions exist
    val days = spark.read.parquet(s"$root/cms").select("day").distinct().count()
    assert(days > Sketches.IngestTailDays)
  }

  test("sketch-store compaction: weekly rollup is lossless and consolidates day partitions") {
    val root = SparkTestSession.tmpDir("graft-sketch-compact-spec").toString
    Sketches.writeSketchStore(spark, sf, root)
    val daysCms = partFiles(s"$root/cms")
    val croot = Sketches.compactSketchStore(spark, root)
    val weeks = spark.read.parquet(s"$croot/cms")
      .select("week").distinct().count()
    assert(weeks < daysCms,
      s"30 day-partitions must roll up into fewer weekly files ($daysCms → $weeks weeks)")
    assert(partFiles(s"$croot/cms") == weeks,
      "one file per week partition — consolidation is the contract")
    // lossless CM merge: the weekly grids re-merge into exactly the
    // grid the daily store merges into (counter addition associativity)
    val daily = spark.read.parquet(s"$root/cms")
      .groupBy("j", "b").agg(sum("cnt").as("cnt"))
      .collect().map(_.toSeq).toSet
    val weekly = spark.read.parquet(s"$croot/cms")
      .groupBy("j", "b").agg(sum("cnt").as("cnt"))
      .collect().map(_.toSeq).toSet
    assert(weekly == daily, "day→week→global must equal day→global cell-for-cell")
    // and the gate-facing serve twins agree estimate-for-estimate
    val hhDaily = Sketches.heavyHittersDaily(spark, sf).collect().map(_.toSeq)
    val hhCompact = Sketches.heavyHittersCompact(spark, sf).collect().map(_.toSeq)
    assert(hhCompact.nonEmpty && hhCompact.toSeq == hhDaily.toSeq)
    val auDaily = Sketches.approxUsersDaily(spark, sf).collect().map(_.toSeq)
    val auCompact = Sketches.approxUsersCompact(spark, sf).collect().map(_.toSeq)
    assert(auCompact.toSeq == auDaily.toSeq,
      "the weekly KMV union must estimate identically to the daily union")
  }
}
