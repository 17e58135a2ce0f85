package graft

import org.apache.spark.sql.functions._

import graft.ops.StarCC

/** Star-contraction CC: agreement with min-label propagation on real
  * near-dup graphs, agreement with a driver-side union-find on random
  * graphs, and logarithmic round count on the high-diameter chain
  * where min-label's O(diameter) formulation cannot finish. */
class StarCCSpec extends SparkSpec {
  import spark.implicits._

  test("star contraction matches min-label propagation on the dup-pair graph") {
    val pairs = graft.llm.Dedup.jaccardPairs(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "doc_id", "text", k = 5, minSim = 0.05)
      .localCheckpoint(eager = true) // same candidate pairs to both algorithms
    val viaMinLabel = graft.llm.Dedup.dupClusters(pairs, "d1", "d2")
      .select($"node", $"label")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val (labels, rounds) = StarCC.labels(pairs, "d1", "d2")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got === viaMinLabel)
    assert(rounds <= 12, s"too many rounds for shallow clusters: $rounds")
  }

  test("self-loop-only nodes get singleton rows (one row per node occurring in pairs)") {
    import spark.implicits._
    // node 5 appears ONLY as a self-loop: the (a != b) canonicalization
    // must not drop it from the output — dupClusters keeps it on the
    // same input, and the contract is one row per distinct node
    val pairs = Seq((1L, 2L), (5L, 5L), (7L, 7L)).toDF("d1", "d2")
    val (labels, _) = StarCC.labels(pairs, "d1", "d2")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === Seq((1L, 1L), (2L, 1L), (5L, 5L), (7L, 7L)))
  }

  test("canonicalPairs fast path matches the canonicalizing path on jaccard pairs") {
    // jaccardPairs output satisfies the canonical contract (d1 < d2,
    // distinct rows): both StarCC paths and both dupClusters paths must
    // produce identical labels — the fast path only removes the no-op
    // canonicalization exchange and the pairs-lineage re-execution
    val pairs = graft.llm.Dedup.jaccardPairs(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "doc_id", "text", k = 5, minSim = 0.05)
      .localCheckpoint(eager = true)
    val (slow, _) = StarCC.labels(pairs, "d1", "d2")
    val (fast, _) = StarCC.labels(pairs, "d1", "d2", canonicalPairs = true)
    assert(fast.collect().map(r => (r.getLong(0), r.getLong(1))).sorted ===
      slow.collect().map(r => (r.getLong(0), r.getLong(1))).sorted)
    val mlSlow = graft.llm.Dedup.dupClusters(pairs, "d1", "d2")
      .select($"node", $"label")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val mlFast = graft.llm.Dedup.dupClusters(pairs, "d1", "d2",
        canonicalPairs = true)
      .select($"node", $"label")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(mlFast === mlSlow)
  }

  test("star contraction matches union-find on a seeded random graph") {
    // deterministic LCG edges over 400 nodes (mix of small components)
    val n = 400L
    val edges = (0 until 300).map { i =>
      val a = (i * 48271L + 11) % n
      val b = (a * 69621L + i) % n
      (a, b)
    }.filter { case (a, b) => a != b }
    // driver-side union-find ground truth
    val parent = Array.tabulate(n.toInt)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = touched.map(v => (v, find(v.toInt).toLong)).sorted
    val (labels, _) = StarCC.labels(edges.toDF("x", "y"), "x", "y")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got === expected)
  }

  test("chain of diameter 256 converges in O(log n) rounds") {
    // min-label propagation moves the min ONE hop per round: a 256-link
    // chain needs ~256 shuffles (dupClusters' maxIter=20 gives up).
    // Star contraction halves depth every alternation.
    val chain = (0L until 256L).map(i => (i, i + 1)).toDF("x", "y")
    val (labels, rounds) = StarCC.labels(chain, "x", "y")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 257)
    assert(got.forall(_._2 == 0L), "every chain node must label to 0")
    assert(rounds <= 20, s"expected logarithmic rounds, got $rounds")
  }

  test("canonicalPairs = true on reversed pairs throws and names the flag") {
    // the promise is checked inside the first fingerprint job, so a
    // caller that breaks it fails loudly instead of getting wrong labels
    val reversed = Seq((2L, 1L), (3L, 2L)).toDF("x", "y")
    val e = intercept[IllegalArgumentException] {
      StarCC.labels(reversed, "x", "y", canonicalPairs = true)
    }
    assert(e.getMessage.contains("canonicalPairs"))
    val (labels, _) = StarCC.labels(reversed, "x", "y")
    assert(labels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }
}
