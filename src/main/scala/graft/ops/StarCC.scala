package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components by alternating large-star / small-star
  * contraction — the O(log n)-round CC algorithm (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
  * MapReduce and Beyond", SoCC 2014; PAPERS.md).
  *
  * Why it exists next to Dedup.dupClusters' min-label propagation:
  * min-label needs O(diameter) rounds — fine for near-dup clusters
  * (shallow stars by construction), a cliff for general graphs where a
  * chain of length 10⁴ means 10⁴ shuffles. Star contraction halves
  * component depth every other round REGARDLESS of shape, so a 100 TB
  * edge set with adversarial topology still converges in tens of
  * rounds, each round a groupBy + join on node ids (map-side combined,
  * never materializing a neighborhood list on the driver).
  *
  * large-star(u): every strictly-larger neighbor of u is re-attached
  * to m = min(Γ⁺(u)); small-star(u): every smaller-or-equal neighbor
  * and u itself re-attach to m. Both preserve connectivity; their
  * alternation contracts every component to a star centered at its
  * minimum node id.
  */
object StarCC {

  /** Component labels for `pairs` (two node columns, undirected, any
    * orientation): returns (node, label) with label = component min,
    * one row per distinct node occurring in `pairs`, plus the number
    * of large+small rounds taken.
    *
    * `canonicalPairs = true` is the caller's GUARANTEE that every row
    * already satisfies c1 < c2 (checked in the first fingerprint job,
    * which throws `IllegalArgumentException` when a row breaks it) and
    * the (c1, c2) rows are distinct
    * (e.g. Dedup.jaccardPairs output: the candidate self-join enforces
    * a.id < b.id and the groupBy(d1, d2) makes pairs distinct). The
    * canonicalization pass (least/greatest + self-loop filter +
    * distinct = one full exchange + two hash aggregates) is then a
    * no-op and is skipped, and the singleton re-attach derives the
    * node universe from the CHECKPOINTED edge table instead of from
    * `pairs` — whose un-checkpointed lineage (candidate generation)
    * would otherwise re-execute in full for that one branch. */
  def labels(pairs: DataFrame, c1: String, c2: String,
      maxRounds: Int = 120, canonicalPairs: Boolean = false): (DataFrame, Int) = {
    // default bound: a 500k-edge single chain (worst-case diameter)
    // measures 40 rounds ≈ 2·log2(n)+detection; 120 covers n ≈ 2^55
    // with slack, while still failing fast on a genuine non-convergence
    // bug rather than looping forever
    // canonical undirected edge set (a < b); self-loops dropped
    val edges0 = {
      val base =
        if (canonicalPairs) pairs.select(col(c1).as("a"), col(c2).as("b"))
        else pairs
          .select(least(col(c1), col(c2)).as("a"), greatest(col(c1), col(c2)).as("b"))
          .filter(col("a") =!= col("b"))
          .distinct()
      // lazy: the fingerprint agg below is the first action and
      // materializes the blocks in its own job (no separate eager job)
      base.localCheckpoint(eager = false)
    }
    var edges = edges0

    // order-independent, overflow-free edge-set fingerprint (edges are
    // distinct within a round, so xor cancellation cannot occur). With
    // `checkOrder` the same job also checks the canonicalPairs promise.
    def fingerprint(e: DataFrame, checkOrder: Boolean = false): (Long, Long) = {
      val aggs = Seq(count(lit(1)), call_function("bit_xor", xxhash64(col("a"), col("b")))) ++
        (if (checkOrder) Seq(max(col("a") >= col("b"))) else Nil)
      val r = e.agg(aggs.head, aggs.tail: _*).head()
      if (checkOrder && !r.isNullAt(2) && r.getBoolean(2))
        throw new IllegalArgumentException(s"StarCC.labels(canonicalPairs = true) promises " +
          s"$c1 < $c2 on every row, but a row has $c1 >= $c2; pass canonicalPairs = false")
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // one star step over the symmetric neighborhood view. large step:
    // re-attach strictly larger neighbors; small step: re-attach
    // smaller-or-equal neighbors and u itself. Only the END of each
    // LS∘SS alternation is checkpointed: the small-star plan safely
    // contains the large-star plan one level deep, and halving the
    // eager materializations halves the per-round job overhead that
    // dominates on small edge sets.
    def star(e: DataFrame, large: Boolean, checkpoint: Boolean): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val m = sym.groupBy(col("u")).agg(least(min(col("v")), first(col("u"))).as("m"))
      val nbr = sym.join(m, "u")
      val out =
        if (large) nbr.filter(col("v") > col("u")).select(col("v"), col("m"))
        else nbr.filter(col("v") <= col("u")).select(col("v"), col("m"))
          .union(m.select(col("u").as("v"), col("m")))
      val canon = out.filter(col("v") =!= col("m"))
        .select(least(col("v"), col("m")).as("a"), greatest(col("v"), col("m")).as("b"))
        .distinct()
      // lazy: each round's fingerprint agg is the first action over the
      // round's edges and materializes the checkpoint in the same job
      if (checkpoint) canon.localCheckpoint(eager = false) else canon
    }

    // NB: no explicit unpersist — Dataset.unpersist does not apply to
    // localCheckpoint blocks (they are RDD-level, not CacheManager
    // entries); superseded rounds' blocks are released by the
    // ContextCleaner once the old DataFrames become unreachable
    var fp = fingerprint(edges, checkOrder = canonicalPairs)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = star(star(edges, large = true, checkpoint = false),
        large = false, checkpoint = true)
      val nfp = fingerprint(next)
      edges = next
      rounds += 2
      if (nfp == fp) converged = true
      fp = nfp
    }
    if (!converged) throw new IllegalStateException(
      s"StarCC did not converge within $maxRounds rounds")

    // terminal state is a forest of stars centered at component minima:
    // every node's label is the min over its closed neighborhood
    val sym = edges.select(col("a").as("node"), col("b").as("v"))
      .union(edges.select(col("b").as("node"), col("a").as("v")))
    val out = sym.groupBy(col("node"))
      .agg(least(min(col("v")), first(col("node"))).as("label"))
    // nodes whose every appearance was a self-loop were dropped with
    // the (a =!= b) canonicalization, but the contract is one row per
    // distinct node OCCURRING IN PAIRS (and dupClusters keeps them on
    // identical input) — re-attach them as their own singletons.
    // Canonical callers guarantee no self-loops, so nodes(pairs) =
    // nodes(edges0) and the universe reads the CHECKPOINT (the
    // re-attach over `pairs` would re-execute its full lineage)
    val nodeSource =
      if (canonicalPairs) edges0.select(col("a").as(c1), col("b").as(c2))
      else pairs
    val allNodes = nodeSource.select(col(c1).as("node"))
      .union(nodeSource.select(col(c2).as("node"))).distinct()
    val withSingletons = out.unionByName(
      allNodes.join(out, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("label")))
    (withSingletons, rounds)
  }
}
