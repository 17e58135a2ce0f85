package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Analytics, HeavyHitters, Router, ScalablePrefix}
import graft.sources.OrderGen

/** Dev tool: push the core operator paths well past bench scale
  * (generated orders, no testdata dependency) and report wall times —
  * the local stand-in for "would this hold at 100 TB": everything here
  * must scale linearly with rows and shuffle only fixed-size state.
  * Usage: runMain graft.ScaleProbe [rows]
  *      | runMain graft.ScaleProbe --floors [edges] [kernel]
  *      | runMain graft.ScaleProbe --codecs|--media|--kernels [base] [m1,m2,...]
  * Every mode runs on one [[GraftSession]] (Bench's engine settings).
  *
  * `--floors` backs [[Explain.FloorJustified]]: it runs each inherently
  * iterative kernel (Bellman-Ford SSSP, min-label dup clustering,
  * star-contraction CC, multi-seed BFS diameter probes) at 1× and 10×
  * synthetic edges on a CONSTANT-diameter random graph and prints the
  * wall-time growth ratio. A ratio well under 10 is the measured proof
  * that those queries' bench seconds are per-round JOB FLOORS (fixed
  * count of Spark jobs), not data-scaling costs — the numbers are
  * recorded next to the retained SLOW rows in BASELINE.md. */
object ScaleProbe {

  /** Wall seconds `f` takes. */
  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def floorsMode(spark: SparkSession, baseEdges: Long,
      only: Option[String] = None): Unit = {
    import spark.implicits._
    // random multigraph with |V| = edges/4: expected degree ~8, so the
    // diameter (hence round count) is O(log V) and nearly constant
    // across the 10× step — exactly the iteration-floor regime the
    // bench queries live in
    def edges(n: Long) = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(1)), lit(n / 4)).as("u"),
        pmod(xxhash64(col("id"), lit(2)), lit(n / 4)).as("v"))
      .filter(col("u") =!= col("v"))
    def bidir(e: org.apache.spark.sql.DataFrame) =
      e.union(e.select(col("v").as("u"), col("u").as("v")))

    val kernels: Seq[(String, Long => Unit)] = Seq(
      ("sssp (Bellman-Ford)", n => {
        val e = bidir(edges(n)).withColumn("w",
          pmod(xxhash64(col("u"), col("v")), lit(100)) + 1)
        graft.ops.Bfs.weightedDistances(e,
          spark.range(1).select(col("id").as("node")), maxIter = 30)
          .agg(count(lit(1))).collect()
      }),
      ("ppr (3-round power iter)", n => {
        // qPpr's per-round shape exactly: materialized edges+deg,
        // withDeg pre-joined ONCE, then per round one equi-join + one
        // dest agg + one node-keyed left join. Round count is a
        // constant (3) of the construction; this probe measures the
        // per-round cost's growth with edge volume.
        val e = bidir(edges(n)).localCheckpoint(eager = false)
        val deg = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
          .localCheckpoint(eager = false)
        val withDeg = e.join(deg, "u").localCheckpoint(eager = false)
        var pr = deg.select(col("u").as("node"))
          .withColumn("pr",
            when(col("node") % 100 === 0, lit(1000000L)).otherwise(lit(0L)))
        for (_ <- 1 to 3) {
          val mass = withDeg.join(pr, withDeg("u") === pr("node"))
            .select(col("v"), expr("pr div d").as("contrib"))
            .groupBy(col("v"))
            .agg(expr("(85 * sum(contrib)) div 100").as("m"))
          pr = deg.select(col("u").as("node"))
            .join(mass, col("node") === col("v"), "left")
            .select(col("node"),
              (when(col("node") % 100 === 0, lit(150000L)).otherwise(lit(0L)) +
                coalesce(col("m"), lit(0L))).as("pr"))
        }
        pr.filter(col("pr") > 0).agg(count(lit(1))).collect()
        ()
      }),
      ("dup_clusters (min-label)", n => {
        // pair list shaped like a dedup candidate set: same graph, d1<d2
        val p = edges(n).select(least(col("u"), col("v")).as("d1"),
            greatest(col("u"), col("v")).as("d2"))
          .filter(col("d1") =!= col("d2"))
        graft.llm.Dedup.dupClusters(p, "d1", "d2", maxIter = 30)
          .agg(count(lit(1))).collect()
      }),
      ("cc_star (star contraction)", n => {
        val (labels, _) = graft.ops.StarCC.labels(edges(n), "u", "v")
        labels.agg(count(lit(1))).collect()
      }),
      ("diameter_probe (3-seed BFS)", n => {
        val e = bidir(edges(n)).localCheckpoint(eager = true)
        val seeds = Seq(0L, 1L, 2L)
        // same concurrent-probe structure as q_diameter_probe
        val threads = seeds.map { s => new Thread(() => {
          graft.ops.Bfs.distances(e,
            spark.range(1).select((col("id") + s).as("node")), maxIter = 30)
            .agg(count(lit(1))).collect()
        }) }
        threads.foreach(_.start()); threads.foreach(_.join())
      }),
      ("lsh_sweep truth candidates", n => {
        // q_lsh_sweep's scale property is CANDIDATE-VOLUME reduction,
        // not wall-clock at probe scale: the exact-Jaccard truth join
        // is sub-quadratic because the lossless prefix filter prunes
        // the pair space. This probe prints Σ C(df,2) over the FULL
        // shingle index vs over the prefix index at this size — the
        // number that decides whether the truth join survives a
        // 100 TB corpus. Docs draw 50 tokens from a 300-word
        // vocabulary (aggressively dense — the worst case: random doc
        // pairs DO share shingles) so the reduction is measured where
        // it matters; docs = edges/20. Docs are TEN 5-token phrases
        // drawn from a 1000-phrase pool (template/boilerplate
        // structure), so each phrase-aligned shingle recurs in
        // ~docs/100 documents — exactly the hot-boilerplate regime the
        // prefix filter exists for; boundary shingles stay rare.
        import org.apache.spark.sql.DataFrame
        val docs = spark.range(n / 20).select(col("id").as("doc_id"),
          array_join(transform(sequence(lit(1), lit(10)),
            i => concat_ws(" ", (0 until 5).map(j =>
              concat(lit("w"), pmod(xxhash64(col("id"), i), lit(1000)) * 5 + j)): _*)),
            " ").as("text"))
        def pairVolume(idx: DataFrame): Long =
          idx.groupBy(col("sk")).agg(count(lit(1)).as("df"))
            .agg(sum(expr("df * (df - 1) div 2"))).head().getLong(0)
        val full = pairVolume(
          graft.llm.Dedup.hashedIndex(docs, "doc_id", "text", 5))
        val prefix = pairVolume(
          graft.llm.Dedup.prefixIndex(docs, "doc_id", "text", 5, 0.5))
        println(f"[floors]   candidate volume: full=$full prefix=$prefix " +
          f"reduction=${full.toDouble / math.max(1L, prefix)}%5.1f x")
      }),
      ("minhash_accuracy shape", n => {
        // q_minhash_accuracy's exact stage chain (round-13): minhash
        // signatures -> 1-row LSH bands -> bucket self-join candidates
        // -> the EXACT truth join (jaccardPairs at minSim 0 — the
        // audit's subject, same class as lsh_sweep/blocking_audit) ->
        // two signature equi-joins. Same boilerplate-corpus docs as the
        // lsh_sweep kernel; docs = edges/20. Sub-linear growth at 10x
        // means the bench-scale wall is the fixed stage chain, not a
        // scale defect.
        val docs = spark.range(n / 20).select(col("id").as("doc_id"),
          array_join(transform(sequence(lit(1), lit(10)),
            i => concat_ws(" ", (0 until 5).map(j =>
              concat(lit("w"), pmod(xxhash64(col("id"), i), lit(1000)) * 5 + j)): _*)),
            " ").as("text"))
        val sigs = graft.llm.Dedup.minhashSignatures(docs, "doc_id", "text",
            k = 5, numHashes = 8)
          .localCheckpoint(eager = false)
        val buckets = graft.llm.Dedup.lshBuckets(sigs, "doc_id",
          numHashes = 8, rowsPerBand = 1)
        val cand = buckets.as("x").join(buckets.as("y"),
            col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
          .distinct()
          .localCheckpoint(eager = false)
        // round-13 re-shape: exact Jaccard only for the candidates —
        // the pair stream is semi-join pruned BEFORE the aggregation
        val shAll = graft.llm.Dedup.hashedIndex(docs, "doc_id", "text", 5)
          .repartition(col("sk"))
          .localCheckpoint(eager = false)
        val counts = shAll.groupBy(col("doc_id")).agg(count(lit(1)).as("cnt"))
        val hot = shAll.groupBy(col("sk")).agg(count(lit(1)).as("df"))
          .filter(col("df") > graft.llm.Dedup.DefaultMaxShingleDf).select(col("sk"))
        val sh = shAll.join(broadcast(hot), Seq("sk"), "left_anti")
        val exact = sh.as("a").join(sh.as("b"),
            col("a.sk") === col("b.sk") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .join(cand, Seq("d1", "d2"), "left_semi")
          .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("shared"))
          .join(counts.select(col("doc_id").as("d1"), col("cnt").as("n1")), "d1")
          .join(counts.select(col("doc_id").as("d2"), col("cnt").as("n2")), "d2")
          .withColumn("jaccard",
            col("shared") / (col("n1") + col("n2") - col("shared")))
        val a = sigs.select(col("doc_id").as("d1") +:
          (0 until 8).map(j => col(s"h$j").as(s"a$j")): _*)
        val b = sigs.select(col("doc_id").as("d2") +:
          (0 until 8).map(j => col(s"h$j").as(s"b$j")): _*)
        cand.join(a, "d1").join(b, "d2")
          .join(exact.select(col("d1"), col("d2"), col("jaccard")),
            Seq("d1", "d2"), "left")
          .agg(count(lit(1))).collect()
        ()
      }))

    println(f"[floors] base=$baseEdges edges vs ${baseEdges * 10} (10x); " +
      "ratio << 10 = job-floor-dominated (iteration count fixed by the log-diameter graph)")
    kernels.filter { case (name, _) => only.forall(name.contains) }
      .foreach { case (name, run) =>
      run(math.max(1000, baseEdges / 10)) // JVM/codegen warmup at tiny size
      val t1 = timed(run(baseEdges))
      val t10 = timed(run(baseEdges * 10))
      println(f"[floors] $name%-28s 1x=$t1%7.2f s  10x=$t10%7.2f s  growth=${t10 / t1}%5.2f x")
    }
  }

  /** `--kernels [rows] [mults]`: wall-time growth across row
    * multipliers (default `1,10`; `1,10,100` measures the
    * amortizing-job-floor claim across TWO decades) for the
    * exact-at-scale kernels, plus the BOUNDED-STATE sizes their 100 TB
    * claims rest on:
    *  - HeavyHitters.exactTopK over zipf tokens — wall should grow
    *    ~linearly (two scans) while the driver-held candidate set stays
    *    ≤ capacity regardless of rows;
    *  - GroupedQuantile.weightedQuantiles over a FIXED value domain —
    *    wall ~linear (scan + narrow drill-down) while the driver-held
    *    histogram stays (groups × domain/bucketWidth) rows at any scale;
    *  - prefix-Jaccard candidate volume (the q_jaccard_* /
    *    q_lsh_sweep truth-join machinery) — the full-index pair volume
    *    grows ~quadratically with docs while the PREFIX-index volume it
    *    is pruned to grows far slower; the printed reduction factor is
    *    the sub-quadratic-survival evidence.
    * A data-proportional driver state or super-linear wall growth here
    * would be a scale defect; the probe prints both so the claim is
    * measured, not asserted. */
  private def kernelsMode(spark: SparkSession, baseRows: Long,
      mults: Seq[Long]): Unit = {
    import org.apache.spark.sql.DataFrame
    // zipf-ish tokens via xxhash: token rank r drawn with p ~ 1/r over
    // a 100k-word domain (pow gives the skew; exact shape irrelevant —
    // only "few hot, long tail" matters for the MG certification)
    def tokens(n: Long): DataFrame = spark.range(n).select(
      concat(lit("w"), floor(pow(lit(100000.0),
        pmod(xxhash64(col("id")), lit(1000000)).cast("double") / 1e6)
          ).cast("long")).as("item"))
    def weighted(n: Long): DataFrame = spark.range(n).select(
      pmod(xxhash64(col("id"), lit(1)), lit(25)).as("g"),
      pmod(xxhash64(col("id"), lit(2)), lit(1000000)).as("v"), // FIXED domain
      (pmod(xxhash64(col("id"), lit(3)), lit(50)) + 1).as("w"))
    // boilerplate-corpus docs, the floorsMode lsh_sweep shape: ten
    // 5-token phrases from a 1000-phrase pool per doc; docs = rows/20
    def docs(n: Long): DataFrame = spark.range(n / 20).select(
      col("id").as("doc_id"),
      array_join(transform(sequence(lit(1), lit(10)),
        i => concat_ws(" ", (0 until 5).map(j =>
          concat(lit("w"), pmod(xxhash64(col("id"), i), lit(1000)) * 5 + j)): _*)),
        " ").as("text"))

    println(s"[kernels] base=$baseRows rows; multipliers=${mults.mkString(",")}")
    Seq[(String, Long => Unit)](
      ("heavy_hitters (MG + recount)", n =>
        HeavyHitters.exactTopK(spark, tokens(n), "item", k = 20, capacity = 4096)
          .collect()),
      ("grouped_quantile (drill-down)", n =>
        graft.ops.GroupedQuantile.weightedQuantiles(spark, weighted(n),
          "g", "v", "w", Seq((1L, 4L), (1L, 2L), (3L, 4L)), bucketWidth = 8192L)
          .collect()),
      ("prefix_jaccard (candidate vol)", n => {
        def pairVolume(idx: DataFrame): Long =
          idx.groupBy(col("sk")).agg(count(lit(1)).as("df"))
            .agg(sum(expr("df * (df - 1) div 2"))).head().getLong(0)
        val full = pairVolume(
          graft.llm.Dedup.hashedIndex(docs(n), "doc_id", "text", 5))
        val prefix = pairVolume(
          graft.llm.Dedup.prefixIndex(docs(n), "doc_id", "text", 5, 0.5))
        println(f"[kernels]   candidate volume at ${n / 20} docs: " +
          f"full=$full prefix=$prefix " +
          f"reduction=${full.toDouble / math.max(1L, prefix)}%7.1f x")
      }),
      ("dup_spans (ExactSubstr windows)", n => {
        // THE q_dup_spans kernel (shared code, not a replica): 24-char
        // windows at stride 4 -> md5 digest -> two-level
        // (digest, doc-salt) dup aggregate -> salted flag join. The
        // explode multiplies rows by ~len/stride, so the claim to
        // MEASURE is that the digest shuffles stay proportional to
        // corpus chars / stride (never docs², never chars x chars) and
        // wall grows ~linearly; the probe corpus is boilerplate-heavy
        // (phrase pool), so hot digests exercise the salt dilution.
        val agg = graft.llm.Dedup.dupSpanFractions(
          docs(n), "doc_id", "text", 24, 4, 64)
        val r = agg.agg(sum("n_spans"), sum("n_dup_spans")).head()
        println(f"[kernels]   dup_spans at ${n / 20} docs: " +
          f"span rows=${r.getLong(0)} dup spans=${r.getLong(1)} " +
          f"(digest shuffle = span rows x ~40 B = " +
          f"${r.getLong(0) * 40 / (1 << 20)}%d MiB, linear in corpus bytes)")
      })
    ).foreach { case (name, run) =>
      run(math.max(1000, baseRows / 10)) // warmup
      val times = mults.map(m => m -> timed(run(baseRows * m)))
      val growth = times.last._2 / times.head._2
      val span = times.last._1 / times.head._1
      println(f"[kernels] $name%-30s " +
        times.map { case (m, t) => f"${m}x=$t%7.2f s" }.mkString("  ") +
        f"  growth=$growth%6.2f x over ${span}x rows")
    }
    // the bounded-state sizes (domain properties, not data volumes)
    val topMult = mults.last
    val histTop = weighted(baseRows * topMult)
      .groupBy(col("g"), expr("v div 8192")).agg(count(lit(1)))
      .count()
    println(f"[kernels] grouped_quantile driver histogram at ${topMult}x: $histTop rows " +
      "(= groups x domain/bucketWidth; constant in data volume)")
    println(f"[kernels] heavy_hitters driver candidate set: <= 4096 entries by construction (treeAggregate MG merge)")
  }

  /** `--media [blobs] [mults]`: measured decode throughput for the
    * pure-JVM media codec family (round-9 verdict #5 — the family
    * carries the multimodal 100 TB claim, so the claim gets a
    * number). For each codec the probe times, distributed over all
    * cores, (a) a synth-only pass (blob generation + byte-length sum)
    * and (b) synth + REAL pixel decode + stats; the difference is the
    * decode cost, reported as MB/s of container bytes and images/s,
    * total and per core. Blob counts at 1× and 10× pin that decode
    * scales linearly with blob count (per-row kernels, no shuffle —
    * the embarrassingly-parallel shape). 128×96 frames: small-web-
    * asset sized, large enough that per-row overhead is not the
    * story. */
  private def mediaMode(spark: SparkSession, baseBlobs: Long,
      mults: Seq[Long], cores: Int): Unit = {
    import org.apache.spark.sql.Column
    import graft.functions.media._
    val W = lit(128); val H = lit(96)
    val id = col("id")
    val variants: Seq[(String, Column, Column => Column)] = Seq(
      ("png_gray8", synth_png(id, W, H), b => png_stats(b).getField("px_sum")),
      ("png_rgb8", synth_png_rgb(id, W, H), b => png_stats_rgb(b).getField("px_sum")),
      ("png_gray16", synth_png16(id, W, H), b => png_stats16(b).getField("sample_sum")),
      ("jpeg_gray", synth_jpeg(id, W, H), b => jpeg_stats(b).getField("px_sum")),
      ("jpeg_ycbcr444", synth_jpeg_ycbcr(id, W, H),
        b => jpeg_stats_ycbcr(b).getField("px_sum")),
      ("jpeg_420", synth_jpeg_420(id, W, H),
        b => jpeg_stats_rgb(b).getField("px_sum")),
      ("jpeg_progressive", synth_jpeg_prog(id, W, H),
        b => jpeg_stats_ycbcr(b).getField("px_sum")),
      ("gif_lzw", synth_gif(id, W, H), b => gif_stats(b).getField("px_sum")),
      ("bmp_24", graft.functions.bmp.synth_bmp(id, W, H),
        b => graft.functions.bmp.bmp_stats_rgb(b).getField("px_sum")),
      ("qoi_rgb", graft.functions.qoi.synth_qoi(id, W, H, lit(false)),
        b => graft.functions.qoi.qoi_stats(b).getField("px_sum")),
      // round-12: VP8L pixel decode, all six encoder feature sets
      // rotating by id (plain/sub-green/predictor/cache+lz77/palette/
      // color-transform), so the number covers the whole branch space
      ("webp_vp8l", graft.functions.vp8l.synth_vp8l(id, W, H,
          pmod(id, lit(6)).cast("int")),
        b => graft.functions.vp8l.vp8l_stats(b).getField("px_sum")),
      ("tiff_rgb", graft.functions.tiff.synth_tiff(id, W, H, lit(true), lit(false)),
        b => graft.functions.tiff.tiff_stats(b).getField("px_sum")),
      // round-13: VP8 lossy key-frame pixel decode — all six encoder
      // feature sets (16x16+Y2 / B_PRED+simple-filter / segmentation+
      // 4 partitions / lf-deltas+skip / absolute-seg / mixed), so the
      // number covers the whole branch space incl. both loop filters
      ("webp_vp8", graft.functions.vp8enc.synth_vp8(id, W, H,
          pmod(id, lit(6)).cast("int")),
        b => graft.functions.vp8.vp8_stats(b).getField("y_sum")))
    println(s"[media] base=$baseBlobs blobs of 128x96; cores=$cores; " +
      s"multipliers=${mults.mkString(",")}")
    variants.foreach { case (name, synth, stats) =>
      def frame(n: Long) = spark.range(n).select(synth.as("b"))
      // warmup: codegen + JIT for both passes at a small size
      frame(200).select(sum(length(col("b")))).head()
      frame(200).select(stats(col("b")).as("s")).select(sum(col("s"))).head()
      mults.foreach { m =>
        val n = baseBlobs * m
        val bytes = frame(n).select(sum(length(col("b")))).head().getLong(0)
        val tSynth = timed(frame(n).select(sum(length(col("b")))).head())
        val tFull = timed(
          frame(n).select(stats(col("b")).as("s")).select(sum(col("s"))).head())
        val tDecode = math.max(1e-3, tFull - tSynth)
        val mbs = bytes / 1e6 / tDecode
        val ips = n / tDecode
        println(f"[media] $name%-14s ${m}%2dx n=$n%8d  blob=${bytes / n}%6d B  " +
          f"synth=$tSynth%6.2f s  full=$tFull%6.2f s  decode=$tDecode%6.2f s  " +
          f"$mbs%8.1f MB/s  $ips%9.0f img/s  ${mbs / cores}%6.2f MB/s/core  " +
          f"${ips / cores}%8.0f img/s/core")
      }
    }
  }

  /** `--codecs [blobs] [mults]`: measured BYTE-CODEC throughput for
    * the compression family (gzip/DEFLATE, snappy, zstd level 3,
    * brotli store) — the codecs a 100 TB ingest spends real CPU in.
    * Per codec, three passes over ~4 KiB word-salad blobs distributed
    * across all cores: synth-only, synth+compress,
    * synth+compress+decompress; differences isolate
    * compress and decompress cost, reported as MB/s of RAW bytes
    * (total and per core) plus the achieved ratio. 1×/10× blob counts
    * pin linear scaling (per-row kernels, no shuffle). */
  private def codecsMode(spark: SparkSession, baseBlobs: Long,
      mults: Seq[Long], cores: Int): Unit = {
    import org.apache.spark.sql.Column
    // ~4 KiB of repetitive-but-not-constant text per blob (the web-page
    // regime: entropy coding AND match finding both have work to do)
    val raw: Column = expr(
      "cast(array_join(transform(sequence(1, 80), i -> " +
        "concat('the tok', pmod(xxhash64(id, i), 997), " +
        "' quick brown fox jumps over the lazy dog ', " +
        "pmod(xxhash64(id, i, 7), 31))), ' ') as binary)")
    import graft.functions.kernels.{gzip_compress, gzip_decompress}
    import graft.functions.snappy.{snappy_compress, snappy_decompress}
    import graft.functions.zstdio.{zstd_compress, zstd_decompress}
    import graft.functions.brotli.{brotli_unwrap, brotli_wrap}
    val variants: Seq[(String, Column => Column, Column => Column)] = Seq(
      ("gzip_deflate", b => gzip_compress(b), b => gzip_decompress(b)),
      ("snappy_block", b => snappy_compress(b), b => snappy_decompress(b)),
      ("zstd", b => zstd_compress(b), b => zstd_decompress(b)),
      ("brotli_store", b => brotli_wrap(b), b => brotli_unwrap(b)))
    println(s"[codecs] base=$baseBlobs blobs of ~4 KiB; cores=$cores; " +
      s"multipliers=${mults.mkString(",")}")
    variants.foreach { case (name, comp, decomp) =>
      def frame(n: Long) = spark.range(n).select(raw.as("raw"))
      def passA(n: Long) = frame(n).select(sum(length(col("raw")))).head().getLong(0)
      def passB(n: Long) = frame(n)
        .select(sum(length(comp(col("raw"))))).head().getLong(0)
      passA(500); passB(500) // warmup codegen + JIT
      def min3(f: => Unit): Double = (1 to 3).map(_ => timed(f)).min
      mults.foreach { m =>
        val n = baseBlobs * m
        val rawBytes = passA(n)
        var compBytes = 0L
        // min-of-3 per pass: single-shot differences of near-equal
        // wall times otherwise clamp to nonsense rates
        val tA = min3(passA(n))
        val tB = min3 { compBytes = passB(n) }
        val tComp = tB - tA
        // decompress timed over PRE-MATERIALIZED compressed blobs: a
        // parquet scan baseline isolates the decode honestly
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-codec-$name").toString
        frame(n).select(comp(col("raw")).as("b"))
          .write.mode("overwrite").parquet(dir)
        def scanOnly() = spark.read.parquet(dir)
          .select(sum(length(col("b")))).head().getLong(0)
        var rtBytes = 0L
        def scanDecode() = { rtBytes = spark.read.parquet(dir)
          .select(sum(length(decomp(col("b"))))).head().getLong(0) }
        scanOnly(); scanDecode() // warmup
        val tScan = min3(scanOnly())
        val tFull = min3(scanDecode())
        require(rtBytes == rawBytes, s"$name round-trip lost bytes!")
        val tDec = tFull - tScan
        def rate(t: Double): String =
          if (t < 0.05) f"${">"}${rawBytes / 1e6 / 0.05}%7.0f MB/s (measurement-floor-bound)"
          else f"${rawBytes / 1e6 / t}%8.1f MB/s (${rawBytes / 1e6 / t / cores}%6.2f/core)"
        println(f"[codecs] $name%-18s ${m}%2dx n=$n%8d  raw=${rawBytes / n}%5d B  " +
          f"ratio=${rawBytes.toDouble / compBytes}%5.2f  " +
          f"comp=${rate(tComp)}  decomp=${rate(tDec)}")
      }
    }
  }

  /** The default mode: the order/route/codec/text operator paths at
    * `rows` generated orders. */
  private def ordersMode(spark: SparkSession, rows: Long, cpus: Int): Unit = {
    def report(name: String)(f: => Unit): Unit =
      println(f"[scale-probe] $name%-28s ${timed(f)}%8.2f s")

    val gen = OrderGen.orders(spark, rows, "probe")
      .withColumnRenamed("order_id", "orderId")

    report(s"route+counts ($rows rows)") {
      Router.statusCounts(Router.route(gen)).collect()
    }
    report("exact cents aggregate") {
      Router.route(gen).filter(col("status") === Router.Success)
        .agg(sum(Analytics.cents(col("price")))).collect()
    }
    report("two-pass prefix sum") {
      ScalablePrefix.runningSum(spark,
        gen.select(col("seq").as("k"), Analytics.cents(col("price")).as("v")),
        "k", "v", numPartitions = cpus * 4)
        .agg(max(col("run_sum"))).collect()
    }
    report("raw-datum encode+decode (500k)") {
      import graft.avro.functions.{from_avro_datum, to_avro_datum}
      OrderGen.orders(spark, rows / 10, "probe-datum")
        .select(from_avro_datum(to_avro_datum(struct(
          col("order_id").as("orderId"), col("product"),
          col("price").cast("float").as("price")), graft.model.Schemas.orderAvroJson),
          graft.model.Schemas.orderAvroJson).as("o"))
        .filter(col("o").isNotNull).count()
    }

    // synthetic documents: docCount docs x 50 pseudo-random vocab words
    // (pure column expressions, no testdata dependency)
    val docCount = rows / 5
    val vocab = array(OrderGen.Words.map(lit): _*)
    val docs = spark.range(docCount).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(1), lit(50)),
        i => element_at(vocab, (pmod(xxhash64(col("id"), i), lit(16)) + 1).cast("int"))),
        " ").as("text"))

    report(s"simhash32 kernel ($docCount docs)") {
      graft.llm.Dedup.simhash32(docs, "doc_id", "text")
        .agg(count(lit(1))).collect()
    }
    report(s"chunk_document UDTF ($docCount docs)") {
      docs.select(col("doc_id"),
          graft.functions.chunking.chunk_document(
            graft.llm.TextOps.tokens(col("text")), 64, 16)
            .as(Seq("chunk_idx", "chunk", "n_toks")))
        .agg(count(lit(1))).collect()
    }
    report(s"repetition fractions ($docCount docs)") {
      graft.llm.TextOps.withRepetition(docs, "text", 3)
        .agg(sum(col("uniq_3grams"))).collect()
    }
    report(s"composed curation pipeline ($docCount docs)") {
      val scored = graft.llm.TextOps.withQualityScore(docs, "text")
      // the generated vocab has no stopwords, so scores are low by
      // construction; 0.1 keeps most docs — the probe measures the
      // score+dedup THROUGHPUT, not gate selectivity
      val gated = scored.filter(col("quality_score") >= 0.1)
      val deduped = graft.llm.Dedup.exactDedup(gated, "doc_id", "text")
      deduped.agg(count(lit(1)), sum(col("dup_count"))).collect()
    }
    report(s"zorder2 kernel + range layout ($rows rows)") {
      // the layout pass a 100 TB table would run: compute z-values and
      // range-partition by them (sampling + exchange), leaving every
      // partition with tight min/max on BOTH dimensions
      spark.range(rows).select(
          (col("id") % 4096).as("x"), ((col("id") * 31) % 4096).as("y"))
        .withColumn("z", graft.functions.kernels.zorder2(col("x"), col("y")))
        .repartitionByRange(cpus * 4, col("z"))
        .agg(count(lit(1))).collect()
    }
    report(s"interval bucket-join ($rows intervals)") {
      val iv = spark.range(rows).select(col("id"),
        (col("id") % 99991).as("s"), (col("id") % 99991 + col("id") % 13).as("e"))
      val win = spark.range(1000).select(col("id").as("w"),
        (col("id") * 100).as("ps"), (col("id") * 100 + 20).as("pe"))
      val B = 64
      iv.withColumn("bucket",
          explode(sequence(expr(s"s div $B"), expr(s"e div $B"))))
        .join(win.withColumn("bucket",
          explode(sequence(expr(s"ps div $B"), expr(s"pe div $B")))), "bucket")
        .filter(col("s") <= col("pe") && col("ps") <= col("e"))
        .filter(col("bucket") === expr(s"greatest(s, ps) div $B"))
        .agg(count(lit(1))).collect()
    }
    report(s"two-pass grouped rank ($rows rows, 5 groups)") {
      // the low-cardinality-window killer: 5 groups over millions of
      // rows — the window form would funnel rows/5 through each task
      ScalablePrefix.groupedRank(spark,
        spark.range(rows).select((col("id") % 5).cast("string").as("g"),
          ((col("id") * 37) % 1000003).cast("double").as("v"), col("id").as("k")),
        "g", "v", "k", numPartitions = cpus * 4)
        .agg(max(col("rnk"))).collect()
    }
    report(s"star-contraction CC (${rows / 10}-edge chain)") {
      // worst-case diameter: one chain component spanning every edge;
      // min-label propagation would need rows/10 rounds
      val chain = spark.range(rows / 10)
        .select(col("id").as("x"), (col("id") + 1).as("y"))
      val (labels, ccRounds) = graft.ops.StarCC.labels(chain, "x", "y")
      val n = labels.filter(col("label") === 0L).count()
      println(f"[scale-probe]   chain rounds=$ccRounds labeled=$n")
    }
    report(s"bloom build+probe ($rows rows, 10k keys)") {
      val keys = spark.range(10000).select((col("id") * 13).as("k"))
      val bloom = graft.ops.BloomPrune.buildWords(keys, "k",
        numBits = 1 << 17, numHashes = 3)
      spark.range(rows).select(col("id").as("k"))
        .filter(graft.ops.BloomPrune.mightContain(bloom, col("k")))
        .agg(count(lit(1))).collect()
    }
    report(s"media header synth+parse ($docCount rows)") {
      docs.select(graft.functions.media.image_dims(
          graft.llm.Multimodal.synthesizeHeader(
            when(col("doc_id") % 3 === 0, "png")
              .when(col("doc_id") % 3 === 1, "jpeg").otherwise("gif"),
            (col("doc_id") % 512 + 16).cast("int"),
            (col("doc_id") % 480 + 16).cast("int"))).as("d"))
        .filter(col("d").isNotNull).count()
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus
    // the 1×/10× modes: `--mode [base] [m1,m2,...]`
    def scaled(defaultBase: Long): (Long, Seq[Long]) = {
      val base = args.drop(1).headOption.map(_.toLong).getOrElse(defaultBase)
      val mults = args.drop(2).headOption
        .map(_.split(",").toSeq.map(_.trim.toLong)).getOrElse(Seq(1L, 10L))
      require(mults.nonEmpty && mults == mults.sorted && mults.head >= 1,
        s"multipliers must be ascending and >= 1, got $mults")
      (base, mults)
    }
    val mode: SparkSession => Unit = args.headOption match {
      case Some("--codecs") =>
        val (blobs, mults) = scaled(20000L); codecsMode(_, blobs, mults, cpus)
      case Some("--media") =>
        val (blobs, mults) = scaled(20000L); mediaMode(_, blobs, mults, cpus)
      case Some("--kernels") =>
        val (rows, mults) = scaled(2000000L); kernelsMode(_, rows, mults)
      case Some("--floors") =>
        val edges = args.drop(1).headOption.filter(_.forall(_.isDigit))
          .map(_.toLong).getOrElse(200000L)
        val only = args.drop(1).find(!_.forall(_.isDigit))
        floorsMode(_, edges, only)
      case _ =>
        val rows = if (args.nonEmpty) args(0).toLong else 5000000L
        ordersMode(_, rows, cpus)
    }
    val spark = GraftSession.local()
    mode(spark)
    spark.stop()
  }
}
