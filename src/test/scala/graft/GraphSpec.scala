package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Graph-family invariants the hash gate can't express: exact triangle
  * counts on synthetic graphs with known answers, the mutuality and
  * degree-bound contracts of the kNN graph, link-prediction soundness,
  * and TextRank mass conservation.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("doc_a", "doc_b")
  }

  test("triangle counts are exact on known graphs (orientation is physical only)") {
    // K4: 4 triangles total, every node in exactly C(3,2) = 3
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val r4 = Graph.triangleCounts(k4).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tri")).toMap
    assert(r4 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a 4-cycle has no triangles but every node has degree 2
    val c4 = Graph.triangleCounts(
      edges((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))).collect()
    assert(c4.forall(_.getAs[Long]("n_tri") == 0L))
    assert(c4.forall(_.getAs[Long]("deg") == 2L))
    // hub-and-spoke (star): high degree, zero triangles — the shape the
    // degree ordering is built to survive; add one rim edge → exactly
    // one triangle at {hub, 2, 3}
    val star = edges((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L))
    assert(Graph.triangleCounts(star).collect()
      .forall(_.getAs[Long]("n_tri") == 0L))
    val starPlus = Graph.triangleCounts(
      edges((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L), (2L, 3L)))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tri")).toMap
    assert(starPlus == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L,
      5L -> 0L, 6L -> 0L))
  }

  test("mutual-kNN edges are mutual, canonical, and degree-bounded") {
    val e = Graph.mutualKnn(spark, sf).collect()
    Kernels.retireCaches()
    assert(e.nonEmpty)
    val pairs = e.map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    assert(pairs.forall { case (a, b) => a < b }, "edges must be canonical")
    assert(pairs.distinct.length == pairs.length, "no duplicate edges")
    // degree bound: a node appears in at most KnnK mutual edges, since
    // mutuality is a subset of its directed top-k
    val deg = pairs.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map(_._2.size)
    assert(deg.max <= Graph.KnnK,
      s"mutual degree ${deg.max} exceeds k=${Graph.KnnK}")
  }

  test("common-neighbor candidates are non-edges with support >= 2 and degree-consistent scores") {
    val edgeSet = Graph.mutualKnn(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    Kernels.retireCaches()
    val cand = Graph.commonNeighbors(spark, sf).collect()
    Kernels.retireCaches()
    assert(cand.nonEmpty)
    cand.foreach { r =>
      val (a, b) = (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))
      assert(a < b)
      assert(!edgeSet.contains((a, b)),
        s"($a,$b) is already a mutual-kNN edge — link prediction must only propose NEW pairs")
      assert(r.getAs[Long]("common") >= 2L)
      // Jaccard bound: common/(dega+degb-common) with deg <= k each
      assert(r.getAs[Double]("link_score") > 0.0 &&
        r.getAs[Double]("link_score") <= 1.0)
    }
  }

  test("textrank conserves probability mass and ranks every co-occurring term") {
    val rows = Graph.textRank(spark, sf).collect()
    Kernels.retireCaches()
    assert(rows.nonEmpty)
    // no dangling nodes (symmetric edges) + 12dp rounding per round →
    // total mass stays 1 up to accumulated rounding drift
    val mass = rows.map(_.getAs[Double]("textrank")).sum
    assert(math.abs(mass - 1.0) < 1e-6, s"mass $mass drifted from 1")
    // descending by score with the term tiebreak — the declared order
    val scores = rows.map(r => (r.getAs[Double]("textrank"), r.getAs[String]("term")))
    val resorted = scores.sortBy { case (s, t) => (-s, t) }.toSeq
    assert(scores.toSeq == resorted)
  }

  test("label-prop loop: plan stays FLAT and converges in O(log diameter) rounds on a 1024-node chain") {
    import spark.implicits._
    // the regression spec for round 9's exponential-lineage bug: a
    // chain is the worst case for neighbor propagation (diameter 1023)
    // and exactly the shape the mutual-kNN graph produces. The pointer
    // jump must converge in ~log2(1023) rounds, and the per-round
    // cut must keep the analyzed plan node count CONSTANT —
    // cache-without-checkpoint grows it ~4x per round, which hung the
    // round-9 gates with 2 GiB plan strings.
    val n = 1024L
    val docs = spark.range(1, n + 1).toDF("doc_id")
    val chain = spark.range(1, n).select(
      col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val frame = Dedup.clustersFromEdges(docs, chain, (r, p, c) => probes += ((r, p, c)))
    val got = frame.collect().map(r => r.getLong(0) -> r.getLong(1))
    // stats-severing pin (the Kernels.cut contract, observable at
    // the loop's OUTPUT): an unsevered cut inherits the round
    // plan's ESTIMATED statistics, and this loop's self-join then
    // SQUARES sizeInBytes round over round — after the ~10 rounds this
    // chain needs, the final frame's estimate would carry thousands of
    // digits (and by round ~20 on real data the driver burns minutes
    // per round just multiplying the BigInts). The loop's lazy cut
    // resets its leaf to defaultSizeInBytes, so the converged
    // frame's estimate stays node-sized.
    // threshold: a severed leaf carries defaultSizeInBytes (=
    // Long.MaxValue, ~2^63), so a few joins over severed leaves stay
    // well under 2^200; ten squaring rounds of an inherited estimate
    // land around 2^64000
    val outStats = frame.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(outStats < BigInt(2).pow(200),
      s"loop output stats must stay flat (Kernels.cut severs inheritance), got $outStats")
    Kernels.retireCaches()
    // block-release regression pin: Dataset.unpersist is a no-op on
    // cuts, so without the per-round Kernels.free the loop would
    // leave ~one persisted frame PER ROUND (10+ here); the final
    // round's cut belongs to this scope and the retireCaches above
    // frees it, so NOTHING may remain
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(persistedAfter <= persistedBefore,
      s"loop must release each round's checkpoint blocks and retireCaches the last " +
        s"($persistedBefore persisted before, $persistedAfter after)")
    assert(got.length == n && got.forall(_._2 == 1L),
      "every chain node must land in component 1")
    val rounds = probes.map(_._1).max
    assert(rounds <= 15,
      s"pointer jump should converge a 1023-diameter chain in ~log2 rounds, took $rounds")
    // plan flatness: every round's frame is a cut leaf, so
    // the analyzed node count is identical across ALL rounds
    val counts = probes.map(_._2).distinct
    assert(counts.size == 1,
      s"plan node count must be constant across rounds (lineage cut), saw $counts")
  }

  test("TextRank vocab cap BINDS: top-cap-by-df vocabulary retained, C(cap,2)-bounded graph") {
    import spark.implicits._
    // the production cap (1000) is inactive at |vocab| = 31, so this
    // drives textRankOn with a synthetic incidence where it must bind:
    // 5 hub terms in every doc (df = 40) + one rare term per doc
    // (df = 1), vocab = 45 > cap = 12. The cap's contract at 100 TB is
    // that the graph stays C(cap,2)-bounded and keeps exactly the
    // top-cap terms by (df desc, term asc) — corpus size may only
    // affect the one incidence scan.
    val hubs = (0 until 5).map(i => s"hub$i")
    val dt = (1 to 40).flatMap { d =>
      (hubs :+ f"rare$d%02d").map(t => (d.toLong, t))
    }.toDF("doc_id", "term")
    val cap = 12
    val out = Graph.textRankOn(spark, dt, cap).collect()
    Kernels.retireCaches()
    val kept = out.map(_.getAs[String]("term")).toSet
    // expected survivors: all 5 hubs (df=40), then the 7 alphabetically
    // first rare terms (df=1, tie broken by term)
    val expected = hubs.toSet ++ (1 to 7).map(d => f"rare$d%02d")
    assert(kept == expected,
      s"cap must keep exactly the top-$cap by (df, term); kept $kept")
    assert(out.length <= cap)
    // rank sanity under the cap: hubs co-occur with everything retained
    // and each other (df 40) — all 5 must outrank every rare term
    val rankOf = out.map { r =>
      val v = r.getAs[Any]("textrank") match {
        case d: Double => d
        case b: java.math.BigDecimal => b.doubleValue
      }
      r.getAs[String]("term") -> v
    }.toMap
    val worstHub = hubs.map(rankOf).min
    val bestRare = (kept -- hubs).map(rankOf).max
    assert(worstHub > bestRare, "every hub must outrank every rare term")
  }

  test("knnComponents: labels are component-minimal, edge-consistent, and cover every vector") {
    val comp = Graph.knnComponents(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    Kernels.retireCaches()
    val vecs = Tables.embeddings(spark, sf).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(comp.keySet == vecs, "one label per embedding, singletons included")
    val edges = Graph.mutualKnn(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    Kernels.retireCaches()
    assert(edges.nonEmpty)
    // edge consistency: endpoints share a label (the defining property)
    edges.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"edge ($a,$b) spans labels ${comp(a)}/${comp(b)}")
    }
    // minimality: each label is the min member id of its member set
    comp.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keys.min == lbl, s"label $lbl is not its component's min id")
    }
    // non-edge-incident vectors label themselves
    val incident = edges.flatMap { case (a, b) => Seq(a, b) }.toSet
    (vecs -- incident).foreach(v => assert(comp(v) == v))
  }
}
