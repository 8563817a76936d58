package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× scale diagnostic (BACKLOG: catch the next cliff before the driver
  * does): unions 10 key-shifted copies of the sf tables — no synthetic
  * data generation — and times the scale-sensitive pipelines. Run
  * per-round after bench; results go to PERF.md's scale table.
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.ScaleCheck
  */
object ScaleCheck {
  // SPARK_GRAFT_SCALECHECK_ONLY: comma-separated substrings — run only
  // the entries whose label matches one (single-family iteration without
  // paying the full ~5-minute sweep; the per-round journal run stays
  // unfiltered)
  private val only: Seq[String] =
    sys.env.get("SPARK_GRAFT_SCALECHECK_ONLY").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  // Second scale point (judge r13 task 8): SPARK_GRAFT_SCALE_X overrides
  // the fan-out multiplier (default 10). Running the scale-critical
  // entries at 10 AND 30 turns "linear at 10×" into a measured exponent:
  // slope = ln(t30/t10)/ln(3) — see PERF.md's slope table. Entry labels
  // keep their 10×-basis row counts (they are stable ids for the
  // journal/filter); the printed tag carries the actual multiplier.
  private val scaleX: Int =
    sys.env.getOrElse("SPARK_GRAFT_SCALE_X", "10").toInt

  // SPARK_GRAFT_SCALE_REPEAT > 1 runs each selected entry that many
  // times and reports the MIN — a filtered subset run pays per-entry
  // codegen compile the full journaled sweep amortizes across 60+
  // entries, and compile is scale-INVARIANT, so slope measurements from
  // single subset samples would read artificially flat. The second
  // sample runs compile-free (registry-sized codegen cache).
  private val repeat: Int =
    sys.env.getOrElse("SPARK_GRAFT_SCALE_REPEAT", "1").toInt

  private def time(label: String)(f: => Long): Unit = {
    if (only.nonEmpty && !only.exists(label.contains)) return
    val samples = (1 to repeat).map { _ =>
      val t0 = System.nanoTime(); val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (t, n) = samples.minBy(_._1)
    println(f"[scale${scaleX}x] $label%-34s $t%6.2f s  ($n rows)")
  }

  /** Forces FULL computation of every column: a bare `.count()` lets
    * Catalyst prune unreferenced expressions and even drop unique-keyed
    * outer joins entirely (caught live: the scrub entry once measured a
    * plan with the whole scrub optimized away). Hashing a struct of all
    * columns pins every operator in the measured plan. */
  private def consume(df: org.apache.spark.sql.DataFrame): Long =
    core.Measure.consume(df)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = core.Session.build("graft-scalecheck")
    spark.range(1000000).selectExpr("sum(id)").collect()

    def x10(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until scaleX).map(i => shift(df, i)).reduce(_.unionByName(_))

    // Materialized single-table fixture (judge r16 task 2): when
    // SPARK_GRAFT_SCALE_FIXTURE_DIR holds a [[ScaleFixture]]-written
    // <table>_x<scaleX>, read THAT instead of building the X-branch
    // union — at 100× the union re-paid 100 scan setups per action,
    // confounding every time exponent at the third scale point. The
    // fixture holds identical rows by construction, so scale-stable
    // outputs (winnow/ann cluster counts) must reproduce exactly;
    // which basis each run used is printed so journal rows stay
    // self-identifying. Entries that synthesize inputs inline keep the
    // union (it is part of what they measure).
    val fixtureDir = sys.env.get("SPARK_GRAFT_SCALE_FIXTURE_DIR")
    def materialized(name: String): Option[DataFrame] =
      fixtureDir.map(d => new java.io.File(d, s"${name}_x$scaleX"))
        .filter(_.isDirectory)
        .map { f =>
          System.err.println(s"[scale] $name: materialized fixture ${f.getPath}")
          spark.read.parquet(f.getPath)
        }
    def unionBasis(name: String)(build: => DataFrame): DataFrame =
      materialized(name).getOrElse {
        System.err.println(s"[scale] $name: $scaleX-branch union basis")
        build
      }

    val orders10 = unionBasis("orders") {
      x10(core.Tables.fannedOut(spark, sfDir, "orders")) { (d, i) =>
        d.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
      }
    }
    val lineitem10 = unionBasis("lineitem") {
      x10(core.Tables.fannedOut(spark, sfDir, "lineitem")) { (d, i) =>
        d.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L))
      }
    }
    val docs10 = unionBasis("documents") {
      x10(core.Tables.fannedOut(spark, sfDir, "documents")) { (d, i) =>
        d.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
      }
    }
    val emb10 = unionBasis("embeddings") {
      x10(core.Tables(spark, sfDir, "embeddings")) { (d, i) =>
        d.withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
          .withColumn("label", col("label") + lit(i * 1000))
      }
    }

    // 1. SMS report parse: 10× the synthesized exposure lines
    time("s8 parse+agg (1.5M lines)") {
      val lines = orders10
        .select(functions.GraftExtensions.evalBarrier(format_string(
          "l%07d %05d TARGET%04d  AAA %02d 01 01 %s  %s %6.1f 2024.%03d:01:02:03 %s PSA  %s   1105  0     87  20735",
          col("o_orderkey") % 10000000, col("o_custkey") % 100000,
          col("o_custkey") % 10000, col("o_orderkey") % 100,
          when(col("o_orderkey") % 2 === 0, "FUV").otherwise("NUV"),
          when(col("o_orderkey") % 3 === 0, "TIME-TAG").otherwise("ACCUM   "),
          (col("o_totalprice") % 1000).cast("int").cast("double"),
          col("o_orderkey") % 365 + 1,
          when(col("o_orderkey") % 2 === 0, "HVNom ").otherwise("      "),
          when(col("o_orderkey") % 2 === 0, "G140L    -----  ")
            .otherwise("NCM1     MIRRORB"))).as("value"))
        .withColumn("filename", lit("/sms/123456aa.txt"))
      ingest.SmsIngest.parseLines(lines)
        .groupBy("DETECTOR", "OPMODE").agg(count(lit(1)).as("n")).count()
    }

    // 2. embedding near-dup: label-blocked self-join, 20k vectors / 100 blocks
    time("dedup_embedding (20k vecs)") {
      val e = emb10.select(col("label"), col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val a = e.select(col("label"), col("vec_id").as("id_a"), col("v").as("va"))
      val b = e.select(col("label"), col("vec_id").as("id_b"), col("v").as("vb"))
      a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
        .withColumn("sim", round(ops.Similarity.cosine(col("va"), col("vb")), 3))
        .filter(col("sim") >= 0.35).count()
    }

    // 2b. ANN near-dup END-TO-END at 20k vectors: banded sign-LSH
    // candidates → exact-cosine verify → connected components →
    // norm-scored representative — the composition that replaces the
    // label-blocked pair source (entry 2) at scale. Candidates may come
    // ONLY from the (band, bucket) equi-join: the require pins candidate
    // volume two orders below all-pairs (20k² / 2 = 200M), so a silent
    // fall-through to a cross join fails the check rather than just
    // slowing it.
    time("dedup_ann_e2e (20k vecs)") {
      val e = emb10.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val planes = ops.Similarity.portablePlanes(nBits = 16, dim = 64)
      val banded = e.select(col("vec_id"),
          explode(ops.Similarity.lshBands(col("v"), planes, bandBits = 8)).as("bb"))
        .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
          col("vec_id"))
      val cand = banded.select(col("band"), col("bucket"), col("vec_id").as("id_a"))
        .join(banded.select(col("band"), col("bucket"), col("vec_id").as("id_b")),
          Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      val nCand = cand.count()
      // scale-aware gate: two orders below all-pairs at ANY multiplier
      // (n = 2k vecs per copy). Bucket-join candidates grow ~quadratically
      // WITHIN buckets as copies stack into the fixed 8-bit bands — the
      // expected LSH behavior for a fixed bit budget; production grows
      // bandBits with the corpus (see PERF.md slope table, round 14).
      val nVec = 2000L * scaleX
      require(nCand < nVec * nVec / 2 / 50,
        s"candidate volume looks all-pairs ($nCand of ${nVec * nVec / 2} possible)")
      val pairs = cand
        .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
        .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
        .filter(round(ops.Similarity.cosine(col("va"), col("vb")), 3) >= 0.35)
        .select("id_a", "id_b")
      val labeled = ops.Graph.connectedComponents(pairs, "id_a", "id_b")
      val scored = labeled.join(e.select(col("vec_id").as("node"),
        round(sqrt(aggregate(col("v"), lit(0.0d),
          (acc, x) => acc + x * x)), 6).as("nrm")), "node")
      ops.Graph.representatives(scored, "node", "cluster", "nrm").count()
    }

    // 2c. ANN e2e with PRODUCTION-SCALED knobs (round 15, judge r14
    // task 4): the fixed-knob entry above measured superlinear at 30×
    // (exponent 1.66) because copies stack into a FIXED 8-bit band
    // space — the documented production rule is bandBits += log₂(scale)
    // so per-bucket density stays constant. This entry MEASURES that
    // rule instead of asserting it: bandBits = 8 + ⌈log₂(X/10)⌉ (8 at
    // 10×, 10 at 30×), plane family sized to keep 2 bands. The PERF.md
    // slope table carries both rows — fixed-knob (the honest footgun)
    // and scaled-knob (the production shape).
    time("dedup_ann_e2e scaled-knobs") {
      // the bits half of the production rule, now API (r16):
      // lshKnobsForScale grows bandBits with log2(corpus/ref)
      val (bb, _) = ops.Similarity.lshKnobsForScale(
        nVectors = 2000L * scaleX, refVectors = 20000L)
      val e = emb10.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val planes = ops.Similarity.portablePlanes(nBits = 2 * bb, dim = 64)
      val banded = e.select(col("vec_id"),
          explode(ops.Similarity.lshBands(col("v"), planes, bandBits = bb))
            .as("bb"))
        .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
          col("vec_id"))
      val cand = banded.select(col("band"), col("bucket"),
          col("vec_id").as("id_a"))
        .join(banded.select(col("band"), col("bucket"),
          col("vec_id").as("id_b")), Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      val nVec = 2000L * scaleX
      require(cand.count() < nVec * nVec / 2 / 50,
        "candidate volume looks all-pairs even with scaled bands")
      val pairs = cand
        .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
        .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
        .filter(round(ops.Similarity.cosine(col("va"), col("vb")), 3) >= 0.35)
        .select("id_a", "id_b")
      val labeled2 = ops.Graph.connectedComponents(pairs, "id_a", "id_b")
      val scored2 = labeled2.join(e.select(col("vec_id").as("node"),
        round(sqrt(aggregate(col("v"), lit(0.0d),
          (acc, x) => acc + x * x)), 6).as("nrm")), "node")
      ops.Graph.representatives(scored2, "node", "cluster", "nrm").count()
    }

    // 2d. ANN e2e: scaled buckets + ADDED BANDS (round 16, judge r15
    // task 3 — measure the recall-recovery rule instead of asserting
    // it). Entry 2c keeps per-bucket density constant by widening
    // bandBits, which TRADES recall: each added bit multiplies a
    // borderline pair's per-band collision probability by
    // p = 1 − θ/π ≈ 0.614 at the 0.35-cosine gate, and the r15 table
    // showed the cluster count drifting 1799 → 1915 (lost borderline
    // links). The production rule is "recover recall by adding BANDS":
    // hold expected per-pair recall constant by growing the band count
    // by (1/p)^Δbits — nBands = ⌈2 × 1.63^(bb−8)⌉ (2 at 10×, 6 at
    // 30×). Candidate volume stays bucket-joined (the same all-pairs
    // guard), wall pays the extra bands, and the cluster count must
    // land back at the fixed-knob value — that pair of numbers IS the
    // measured cost of recall at scale (PERF.md r16 table).
    time("dedup_ann_e2e scaled+bands") {
      // BOTH halves of the production rule from the API (r16): bits
      // hold per-bucket density, bands recover borderline-pair recall
      val (bb, nBands) = ops.Similarity.lshKnobsForScale(
        nVectors = 2000L * scaleX, refVectors = 20000L,
        borderlineCos = 0.35)
      val e = emb10.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val planes = ops.Similarity.portablePlanes(nBits = nBands * bb, dim = 64)
      val banded = e.select(col("vec_id"),
          explode(ops.Similarity.lshBands(col("v"), planes, bandBits = bb))
            .as("bb"))
        .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
          col("vec_id"))
      val cand = banded.select(col("band"), col("bucket"),
          col("vec_id").as("id_a"))
        .join(banded.select(col("band"), col("bucket"),
          col("vec_id").as("id_b")), Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      val nVec = 2000L * scaleX
      require(cand.count() < nVec * nVec / 2 / 50,
        "candidate volume looks all-pairs even with scaled bands+bands")
      val pairs = cand
        .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
        .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
        .filter(round(ops.Similarity.cosine(col("va"), col("vb")), 3) >= 0.35)
        .select("id_a", "id_b")
      val labeled3 = ops.Graph.connectedComponents(pairs, "id_a", "id_b")
      val scored3 = labeled3.join(e.select(col("vec_id").as("node"),
        round(sqrt(aggregate(col("v"), lit(0.0d),
          (acc, x) => acc + x * x)), 6).as("nrm")), "node")
      ops.Graph.representatives(scored3, "node", "cluster", "nrm").count()
    }

    // 2c. the MULTI-PROBE alternative to recall-by-adding-bands: keep
    // the cheap scaled-bits config (2 bands × scaled bits) and fan each
    // vector's PROBE side out to its Hamming-1 buckets instead of
    // hashing 3× more bands on BOTH sides. Per borderline pair
    // (p = 0.614/bit at cos 0.35) a 10-bit band catches p^10 + 10·p^9
    // (1−p) ≈ 0.054 with H1 probing vs 0.0074 exact — so 2 probed
    // bands ≈ 0.105 recall/pair vs 6 exact bands ≈ 0.043. Same exact
    // cosine verify, CC, and keeper; cluster count BELOW the
    // scaled+bands row's means strictly more true pairs recovered.
    time("dedup_ann_e2e scaled+multiprobe") {
      // knobs from the API since r18 (judge r17 task 6): the measured
      // limits — 10-bit minimum bucket resolution (8-bit H1 fan-out
      // blew the candidate guard; hot buckets' Hamming-1 neighbors are
      // hot too), bands stay at base (probing replaces bands), flips
      // grow (1/p) per extra bit and the rule REFUSES past H1
      // saturation — live in probeKnobsForScale, pinned by
      // SimilaritySpec; this row reads them instead of restating them
      val (bb, nBands, probeFlips) = ops.Similarity.probeKnobsForScale(
        nVectors = 2000L * scaleX, refVectors = 20000L,
        borderlineCos = 0.35)
      val e = emb10.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val planes = ops.Similarity.portablePlanes(nBits = nBands * bb, dim = 64)
      val banded = e.select(col("vec_id"),
          explode(ops.Similarity.lshBands(col("v"), planes, bandBits = bb))
            .as("bb"))
        .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
          col("vec_id"))
      // probe side: own bucket + the rule's Hamming-1 neighbors
      val probe = banded.select(col("band"), col("vec_id").as("id_a"),
          explode(ops.Similarity.hamming1Probes(col("bucket"), bits = bb,
            flips = probeFlips)).as("bucket"))
      val cand = probe
        .join(banded.select(col("band"), col("bucket"),
          col("vec_id").as("id_b")), Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      val nVec = 2000L * scaleX
      require(cand.count() < nVec * nVec / 2 / 50,
        "candidate volume looks all-pairs under multi-probe")
      val pairs = cand
        .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
        .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
        .filter(round(ops.Similarity.cosine(col("va"), col("vb")), 3) >= 0.35)
        .select("id_a", "id_b")
      val labeled4 = ops.Graph.connectedComponents(pairs, "id_a", "id_b")
      val scored4 = labeled4.join(e.select(col("vec_id").as("node"),
        round(sqrt(aggregate(col("v"), lit(0.0d),
          (acc, x) => acc + x * x)), 6).as("nrm")), "node")
      ops.Graph.representatives(scored4, "node", "cluster", "nrm").count()
    }

    // 2e. the IVF-CELL candidate generator (round 18, judge r17 top
    // task): data-adaptive k-means cells instead of hash buckets.
    // The bands rule (2d) holds recall at a measured wall slope of 1.82
    // — exactly bands×rows, N^1.8 end to end — because EVERY vector
    // hashes every added band. IVF pays a different bill: assignment is
    // N·k native cosines (one fused loop per row via IvfTopCells — the
    // HOF array_sort comparator would be O(k log k) INTERPRETED evals
    // per row at k = √N) and candidates are within-cell pairs
    // (~N²·nProbe²/k). With ivfKnobsForScale's k ∝ √N both sides grow
    // as N^1.5 arithmetic with tiny constants; the measured slope and
    // the cluster count vs the 2d row at each scale are the round's
    // deliverable (PERF.md r18): recall held means cluster count ≤ the
    // bands row's (more true pairs merged), near-linear means slope
    // ≤ ~1.2.
    time("dedup_ann_ivf_e2e scaled-knobs") {
      val nVec = 2000L * scaleX
      val (k, nProbe) = ops.Similarity.ivfKnobsForScale(nVectors = nVec)
      val e = emb10.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = ops.Similarity.kmeansCentroids(e, "vec_id", "v",
        k = k, iters = 3, assignNative = true)
      val assigned = ops.Similarity.ivfAssignNative(e, "v", cents,
        nProbe = nProbe).select(col("centroid_id"), col("vec_id"))
      val cand = assigned.select(col("centroid_id"), col("vec_id").as("id_a"))
        .join(assigned.select(col("centroid_id"), col("vec_id").as("id_b")),
          Seq("centroid_id"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      // LINEARITY guard, not the LSH rows' all-pairs guard: constant
      // cell size means candidates must stay ≤ c·N·cellSize·nProbe² —
      // an N-proportional bound (the N²/100 form mis-fires exactly at
      // SMALL N, where linear-in-N candidates are the largest FRACTION
      // of all-pairs; slack 8 covers skewed cells)
      require(cand.count() < nVec * 100L * nProbe * nProbe * 8,
        "candidate volume is superlinear under constant-cell IVF")
      val pairs = cand
        .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
        .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
        .filter(round(ops.Similarity.cosine(col("va"), col("vb")), 3) >= 0.35)
        .select("id_a", "id_b")
      val labeled5 = ops.Graph.connectedComponents(pairs, "id_a", "id_b")
      val scored5 = labeled5.join(e.select(col("vec_id").as("node"),
        round(sqrt(aggregate(col("v"), lit(0.0d),
          (acc, x) => acc + x * x)), 6).as("nrm")), "node")
      ops.Graph.representatives(scored5, "node", "cluster", "nrm").count()
    }

    // 2f. the PRODUCTION composition (round 18): EXACT-collapse first,
    // near-dup ANN over the distinct reps only, expand members back.
    // RecallProbe r18 proved the replication fixture's true pair
    // volume grows quadratically (509,800 → 4,648,200 pairs, 10×→30×)
    // — on that duplication model every constant-recall generator is
    // Θ(N²) by information, and rows 2b–2e all pay it. One hash
    // aggregate changes the game: the fixture's duplication is exact
    // replication, so the distinct-rep corpus is scale-INVARIANT and
    // this row's wall must read ~FLAT across 10×/30×/100× where every
    // member-level row grows superlinearly. Expansion exactness
    // (identical clustering incl. the zero-norm caveat) is pinned in
    // SimilaritySpec; the honest scope note: real near-dup copies are
    // rarely byte-identical, which is what the embeddings_d diversity
    // fixture (linear truth growth) exists to measure.
    time("dedup_ann_ivf_e2e exact-collapse") {
      val e = emb10.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val (reps, members) = ops.Similarity.collapseExactEmbeddings(e)
      val repsP = reps.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nReps = repsP.count()
        val (k, nProbe) = ops.Similarity.ivfKnobsForScale(nReps)
        val cents = ops.Similarity.kmeansCentroids(repsP, "vec_id", "v",
          k = k, iters = 3, assignNative = true)
        val assigned = ops.Similarity.ivfAssignNative(repsP, "v", cents,
          nProbe = nProbe).select(col("centroid_id"), col("vec_id"))
        val cand = assigned.select(col("centroid_id"), col("vec_id").as("id_a"))
          .join(assigned.select(col("centroid_id"), col("vec_id").as("id_b")),
            Seq("centroid_id"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
        val pairs = cand
          .join(repsP.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
          .join(repsP.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
          .filter(round(ops.Similarity.cosine(col("va"), col("vb")), 3) >= 0.35)
          .select("id_a", "id_b")
        val repCl = ops.Graph.connectedComponents(pairs, "id_a", "id_b")
        ops.Similarity.expandCollapsedClusters(members, repCl)
          .select("cluster").distinct().count()
      } finally { repsP.unpersist(blocking = false); () }
    }

    // 3. full OSM-shift monitor pipeline at 6M lineitem rows
    time("monitor_osm_shift (6M rows)") {
      val lamp = lineitem10.filter(col("l_linenumber") <= 2)
        .groupBy(col("l_orderkey"))
        .agg(max(when(col("l_linenumber") === 1, col("l_quantity"))).as("q1"),
          max(when(col("l_linenumber") === 2, col("l_quantity"))).as("q2"))
        .filter(col("q1").isNotNull && col("q2").isNotNull)
        .select(
          concat(lit("r"), col("l_orderkey"), lit("q")).as("ROOTNAME"),
          (lit(59000.0) + (col("l_orderkey") % 100)).as("EXPSTART"),
          when(col("l_orderkey") % 10 === 0, "NUV").otherwise("FUV").as("DETECTOR"),
          lit("G160M").as("OPT_ELEM"),
          array(lit(0.0), lit(10.0)).as("TIME"),
          array(col("q1"), col("q2")).as("SHIFT_DISP"),
          array(col("q1") / 10, col("q2") / 10).as("SHIFT_XDISP"),
          array(lit("FUVA"), lit("FUVB")).as("SEGMENT"))
      val sms = orders10.select(concat(lit("r"), col("o_orderkey")).as("ROOTNAME"),
        (col("o_orderkey") % 1000).cast("double").as("TSINCEOSM1"))
      val exploded = monitors.Monitors.osmShiftData(lamp, sms)
      val diffs = ops.Relational.segmentDiff(
        exploded.groupBy("ROOTNAME", "SEGMENT").agg(first("SHIFT_DISP").as("v")),
        Seq("ROOTNAME"), "SEGMENT", "v", "FUVA", "FUVB")
      monitors.Monitors.segmentDiffOutliers(diffs, 10.0).count()
    }

    // 4. MinHash-LSH candidates at 50k docs
    time("minhash_lsh (50k docs)") {
      ops.Text.minhashCandidates(docs10, "doc_id", "text",
        k = 4, numHashes = 32, bands = 16).count()
    }

    // 4b. adversarial density: 10% of the corpus is ONE byte-identical
    // boilerplate doc — every band funnels those 5k docs into a single
    // bucket, which must hit the maxBucketSize guard and be dropped
    // instead of exploding into 5000·4999/2 ≈ 12.5M pairs. This is the
    // load-bearing claim of the 100 TB dedup design; the require() makes
    // a silent guard regression fail the scale check, not just slow it.
    time("minhash_lsh hot-bucket (50k docs, 5k dup)") {
      val adversarial = docs10.withColumn("text",
        when(col("doc_id") % 10 === 0,
          lit("boilerplate header terms of service apply to all documents"))
          .otherwise(col("text")))
      val n = ops.Text.minhashCandidates(adversarial, "doc_id", "text",
        k = 4, numHashes = 32, bands = 16).count()
      require(n < 1000000L,
        s"saturated-bucket fan-out leaked past the maxBucketSize guard: $n pairs")
      n
    }

    // 4c. connected components over the 50k-doc candidate graph: rounds
    // are O(log n) by the star construction, so 10× the docs must not
    // change the round count materially — wall time should track the
    // edge volume, not component diameter
    time("dedup_cc (50k docs)") {
      val sh = docs10.select(col("doc_id"),
        explode(array_distinct(ops.Text.wordShingles(
          split(col("text"), " ", -1), 8))).as("shingle"))
      val lists = sh.groupBy("shingle")
        .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1 && size(col("ids")) <= 1000)
      val pairFan = flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))
      val pairs = lists.select(explode(pairFan).as("p"))
        .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
        .distinct()
      ops.Graph.connectedComponents(pairs, "id_a", "id_b").count()
    }

    // 4d. adversarial CC shape: ONE giant component with a 200k-degree
    // hub plus a 100k-node chain grafted on — the hot spot of star
    // contraction. The groupBy-min formulation folds the hub's min
    // map-side and leaves the join-back to AQE's skew splitting; the
    // chain half forces the O(log n) round behavior at the same time.
    time("dedup_cc hot-root giant comp (300k edges)") {
      val star = spark.range(1, 200001)
        .select(lit(0L).as("a"), col("id").as("b"))
      val chain = spark.range(200001, 300000)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      val graft = spark.range(1).select(lit(5L).as("a"), lit(200001L).as("b"))
      val labeled = ops.Graph.connectedComponents(
        star.unionAll(chain).unionAll(graft), "a", "b")
      val n = labeled.count()
      val comps = labeled.select("cluster").distinct().count()
      require(comps == 1L, s"expected one giant component, got $comps")
      n
    }

    // shared as-of fixture: 1M probes (purchases) x 1M quotes (views,
    // 3 value columns) over 10k keys — ONE definition so every native/
    // window comparison below measures the same dataset
    def asofFixture(): (DataFrame, DataFrame) = {
      val events10 = x10(core.Tables(spark, sfDir, "events")) { (d, i) =>
        d.withColumn("event_id", col("event_id") + lit(i * 10000000L))
          .withColumn("user_id", col("user_id") + lit(i * 1000L))
      }
      val probes = events10.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val quotes = events10.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"),
          (col("value") * 2).as("v2"), (col("value") + 1).as("v3"))
      (probes, quotes)
    }

    // 5. custom as-of join: 1M probes x 1M quotes over 10k keys
    time("asof_native (1M x 1M)") {
      val (probes, quotes) = asofFixture()
      // consume qv: a bare count() lets column pruning DELETE the window
      // from the window formulation (but not the custom exec) — every
      // as-of entry aggregates the carried value so both paths do the work
      org.apache.spark.sql.graft.AsOfJoinApi
        .asOf(probes, quotes.select(col("user_id"), col("ts"), col("value")),
          Seq("user_id"), "ts", "value", "qv")
        .agg(count(col("qv"))).collect(); 1L
    }

    // 5b. the SAME 1M x 1M as-of through the union+window formulation —
    // the comparison that justifies the custom exec: the window form
    // sorts the COMBINED stream (2x the rows through sort plus the
    // union's column padding), so its gap vs the native merge should
    // widen with scale
    time("asof_window (1M x 1M)") {
      val (probes, quotes) = asofFixture()
      ops.Relational.asOfLookup(probes,
        quotes.select(col("user_id"), col("ts"), col("value")),
        Seq("user_id"), "ts", "value", "qv")
        .agg(count(col("qv"))).collect(); 1L
    }

    // 5c/5d. MULTI-VALUE as-of, native vs window: carrying 3 quote
    // columns is ONE native merge (one shuffle+sort per side) but THREE
    // window passes (each re-shuffling and re-sorting the combined
    // stream) — the composition where the custom exec's advantage is
    // structural, not constant-factor
    time("asof_multi_native (1M, 3 cols)") {
      val (probes, quotes) = asofFixture()
      org.apache.spark.sql.graft.AsOfJoinApi.asOfMulti(
        probes, quotes, Seq("user_id"), "ts",
        Seq("value", "v2", "v3"), Seq("q1", "q2", "q3"))
        .agg(count(col("q1")), count(col("q2")), count(col("q3")))
        .collect(); 1L
    }
    time("asof_multi_window (1M, 3 cols)") {
      val (probes, quotes) = asofFixture()
      val s1 = ops.Relational.asOfLookup(probes, quotes
        .select(col("user_id"), col("ts"), col("value")),
        Seq("user_id"), "ts", "value", "q1")
      val s2 = ops.Relational.asOfLookup(s1, quotes
        .select(col("user_id"), col("ts"), col("v2")),
        Seq("user_id"), "ts", "v2", "q2")
      ops.Relational.asOfLookup(s2, quotes
        .select(col("user_id"), col("ts"), col("v3")),
        Seq("user_id"), "ts", "v3", "q3")
        .agg(count(col("q1")), count(col("q2")), count(col("q3")))
        .collect(); 1L
    }

    // 6. GLOBAL (unkeyed) as-of: range-partitioned path with the
    // cross-partition seed hand-off — the formulation where a window
    // would collapse to one task
    time("asof_global (200k x 200k)") {
      val events10 = x10(core.Tables(spark, sfDir, "events")) { (d, i) =>
        d.withColumn("event_id", col("event_id") + lit(i * 10000000L))
          .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 7} MINUTES"))
      }
      val probes = events10.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"))
      val quotes = events10.filter(col("event_type") === "click")
        .groupBy("ts").agg(max("value").as("v"))
      org.apache.spark.sql.graft.AsOfJoinApi
        .asOf(probes, quotes, Seq.empty, "ts", "v", "qv")
        .agg(count(col("qv"))).collect(); 1L
    }

    // 7b. full curation pipeline at 50k docs: quality gate + fingerprint
    // window + LSH banding + flag join + report — the composed flow must
    // stay bucket-joined (no all-pairs) as the corpus grows
    time("pipe_curation (50k docs)") {
      ops.Curation.report(ops.Curation.flags(docs10, "doc_id", "text",
        Seq("the", "a"),
        Seq("dataish" -> Seq("data", "table", "row"),
          "queryish" -> Seq("query", "filter", "join"),
          "streamish" -> Seq("stream", "batch", "window")))).count()
    }

    // 7c. PQ train + encode + ADC at 10× vectors: encode is the
    // zero-shuffle packed-codebook argmin; ADC's candidate side reads
    // only the integer codes, so the search scan should stay flat as
    // vector width grows
    time("pq_train+encode+adc (10x vecs)") {
      val e = emb10.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cb = ops.Quantization.trainCodebooks(e, "vec_id", "v",
        m = 8, dim = 64, ksub = 16, iters = 2)
      val encoded = ops.Quantization.encode(e, "v", cb, m = 8, dim = 64)
        .select(col("vec_id").as("cand_id"), col("codes"))
      val probes = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("probe_id"), col("v"))
      ops.Quantization.adcTopK(encoded, cb, probes, "probe_id", "cand_id",
        "v", m = 8, dim = 64, k = 10).count()
    }

    // 8a. duplicated-span stats at 50k docs. The ×10 key-shifted copies
    // make EVERY span a cross-doc duplicate — maximum density for the
    // dup-hash join-back (the worst case for this operator, since the
    // HAVING >= 2 filter drops nothing); volume must stay linear in
    // total span count, never pairwise in duplicates
    // 8a-ii. prefix-doubling suffix spans under the same all-dup
    // adversarial density: with every window duplicated the ladder's
    // geometric candidate shrinkage NEVER fires — every level re-hashes
    // ~every position (4 bounded corpus-scale verify rounds). Volume
    // must stay levels-linear in token count; the guard asserts real
    // maximal spans come out.
    time("dedup_suffix_spans (50k docs, all-dup)") {
      val (spans, handles) = ops.Text.suffixDupSpansWithHandle(docs10,
        "doc_id", "text", baseK = 4, levels = 4, minDocs = 2,
        persistLevels = true)
      try {
        val n = consume(spans)
        require(n > 0, "all-dup corpus must yield maximal duplicated spans")
        n
      } finally handles.foreach { h => h.unpersist(); () }
    }

    time("dedup_span_ngrams (50k docs, all-dup)") {
      consume(ops.Text.duplicatedSpanStats(docs10, "doc_id", "text", k = 5))
    }

    // 8a-iii. the winnow PRE-GATE on a MOSTLY-UNIQUE corpus (round 18,
    // judge r17 task 4): the all-dup row above is the gate's worst case
    // (nothing excludable); production corpora are the opposite — most
    // docs hold no duplicated window and the ladder's level-0 explode
    // + join-back is almost all waste. Synthesized inline (the fixture
    // tables are all-dup by construction): docs with doc_id % 10 == 0
    // keep their text (duplicated across the x10 copies), the other 90%
    // get every TOKEN suffixed with 6 hex chars of md5(doc_id, pos) —
    // same token count, zero shared windows, and (unlike a first cut
    // that suffixed the raw doc_id — whose digit tails coincide across
    // the ×10 copies, leaving 12-char shared RAW substrings the winnow
    // tier correctly refused to exclude) no incidental shared
    // substrings either — so ~90% of the corpus is globally unique at
    // the gate's own granularity. baseK = 8 / G = 24 is the production
    // configuration (24-char shared substrings between unrelated docs
    // are rare — G=12 at baseK=4 measured vacuous on any text). The
    // pair of rows measures the same ladder with and without the gate
    // — the gap is the gate's win; output equality is pinned in
    // TrainSpec, and both rows must report the same span count here
    // (an inequality is a gate bug, not noise).
    val mostlyUnique = docs10.withColumn("text",
      when(col("doc_id") % 10 === 0, col("text"))
        .otherwise(concat_ws(" ",
          transform(split(col("text"), " ", -1), (t, i) =>
            concat(t, lit("_"),
              substring(md5(concat(col("doc_id"), lit("_"), i)), 1, 6))))))
    var ungatedSpanCount = -1L
    time("dedup_suffix_spans ungated (90% unique)") {
      val (spans, handles) = ops.Text.suffixDupSpansWithHandle(mostlyUnique,
        "doc_id", "text", baseK = 8, levels = 3, minDocs = 2,
        persistLevels = true)
      try { ungatedSpanCount = consume(spans); ungatedSpanCount }
      finally handles.foreach { h => h.unpersist(); () }
    }
    time("dedup_suffix_spans gated (90% unique)") {
      val (spans, handles) = ops.Text.suffixDupSpansGatedWithHandle(
        mostlyUnique, "doc_id", "text", baseK = 8, levels = 3,
        minDocs = 2, persistLevels = true)
      try {
        val n = consume(spans)
        require(ungatedSpanCount < 0 || n == ungatedSpanCount,
          s"gate changed span count: $n vs $ungatedSpanCount")
        n
      } finally handles.foreach { h => h.unpersist(); () }
    }

    // 8b. corpus-trained bigram LM at 50k docs: the c2 count table is
    // vocabulary²-bounded (shared across the shifted copies), so the
    // scoring join sides stay small while the exploded bigram stream
    // grows linearly
    time("t_lm_perplexity (50k docs)") {
      consume(ops.Text.bigramNll(docs10, "doc_id", "text"))
    }

    // 8c. covariance at 20k vectors: the posexplode fans out d² = 4096
    // entries per row into a partial hash aggregate whose table holds at
    // most d² groups — the shuffle ships 4096 partial sums per partition
    // regardless of row count
    time("sim_pca_cov (20k vecs)") {
      consume(ops.Similarity.covarianceMatrix(
        emb10.select(col("embedding")), "embedding", dim = 64))
    }

    // 8d. covariance fast path at the same 20k vectors: the typed
    // Aggregator (object buffer, no fan-out) vs 8c's posexplode — the
    // gap is the d² row fan-out cost the aggregator avoids
    time("sim_pca_cov_fast (20k vecs)") {
      consume(ops.Similarity.covarianceMatrixFast(
        emb10.select(col("embedding")), "embedding", dim = 64))
    }

    // 8e. incremental dedup: 5k-doc batch against a 45k-doc corpus.
    // The corpus side reduces to fingerprints + band hashes; cost must
    // track batch + one corpus signature pass, with candidate volume
    // bucket-bounded (the ×10 copies make every batch doc an exact dup
    // of its source-shard sibling — maximal candidate density)
    time("dedup_incremental (5k vs 45k)") {
      val batch = docs10.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      val corpus = docs10.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), col("text"))
      ops.Curation.incrementalDedup(batch, corpus, "doc_id", "text")
        .groupBy("status").count().count()
    }

    // 8f. epoch shard shuffle at 50k docs into 64 shards: one shuffle
    // on the shard key + per-shard sort — the write-layout movement
    time("pipe_shard_shuffle (50k, 64 shards)") {
      consume(ops.Sampling.shardShuffle(
        docs10.select("doc_id"), "doc_id", 64, "ep1"))
    }

    // 8g. classifier margin + token budget at 50k docs: map-only margin,
    // then one domain-key shuffle for the running-total window
    time("pipe_token_budget (50k docs)") {
      val base = docs10.select(col("doc_id"), col("source"),
        size(split(col("text"), " ", -1)).cast("long").as("nt"),
        ops.Text.classifierMarginInt(split(col("text"), " ", -1), 1024)
          .as("pri"))
      ops.Sampling.tokenBudgetFilter(base, "source", "doc_id", "nt", "pri",
        6000L).count()
    }

    // 8h. span scrubbing at 50k docs under the same all-dup density as
    // 8a — every span duplicated, so EVERY token is covered and the
    // covered-position sets are maximal; the rebuild join must still be
    // linear (per-doc int sets, never pairwise)
    time("t_scrub_spans (50k docs, all-dup)") {
      // the persistSpans route — the registry/bench form: one span
      // explode serves both the dup-hash aggregate and the cover join
      val (out, spans) = ops.Text.scrubDuplicatedSpansWithHandle(
        docs10, "doc_id", "text", k = 5, persistSpans = true)
      val n = consume(out); spans.unpersist(); n
    }

    // 8i. containment at 50k docs: the ×10 copies make every shingle's
    // doc-list 10× hotter — the maxDf stop-shingle prune is what keeps
    // the per-shingle ordered-pair fan-out (df², here up to 100 pairs
    // per genuinely-shared shingle) from exploding
    time("t_containment (50k docs)") {
      ops.Text.containmentPairs(docs10, "doc_id", "text", k = 5,
        minContain = 0.5, maxDf = 100).count()
    }

    // 8j. semantic dedup at 20k vectors with k SCALED to the corpus
    // (k=64 → ~300-vector cells): within-cell pair volume is
    // |cell|²·k ≈ 6M, linear in N at constant cell size — the SemDeDup
    // contract; k=8 here would quadratically blow the cell self-join
    time("dedup_semantic (20k vecs, k=64)") {
      ops.Similarity.semanticDedup(
        emb10.select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding")),
        "vec_id", "embedding", k = 64, iters = 2, tau = 0.35)
        .groupBy("status").count().count()
    }

    // 8j2. ANN recall eval at 20k vectors (r10): with centroids
    // MATERIALIZED as a LocalRelation after training, the plan is
    // assignment-scan-bound — one brute-force probe similarity pass +
    // one shared window, nothing re-derives the Lloyd chain. Cost must
    // track rows×probes (the sims stream), near-linear in N at fixed
    // probe count — the pre-fix lazy-chain form replayed training per
    // plan branch and would have scaled with branches×iters×N.
    time("sim_recall_eval (20k vecs, 5 probes)") {
      val e = emb10.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val cents = ops.Similarity.kmeansCentroids(
        e, "vec_id", "embedding", k = 16, iters = 2)
      val assigned = ops.Similarity.ivfAssign(e, "embedding", cents)
      val probes = assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("centroid_id").as("pcid"),
          col("embedding").as("pvec"))
      val sims = assigned.join(broadcast(probes),
          col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          (col("centroid_id") === col("pcid")).as("in_cell"),
          ops.Similarity.cosine(col("embedding"), col("pvec")).as("s"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("s").desc, col("vec_id"))
      val wRun = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      consume(sims
        .withColumn("rk_ex", row_number().over(w))
        .withColumn("rk_iv",
          sum(when(col("in_cell"), 1L).otherwise(0L)).over(wRun))
        .select(col("probe_id"),
          (col("rk_ex") <= 10).as("is_ex"),
          (col("in_cell") && col("rk_iv") <= 10).as("is_iv"))
        .groupBy("probe_id")
        .agg(sum(when(col("is_ex"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("is_iv"), 1L).otherwise(0L)).as("n_ivf"),
          sum(when(col("is_ex") && col("is_iv"), 1L).otherwise(0L))
            .as("n_overlap")))
    }

    // 8k. count-min sketch at 50k docs (~7.5M token occurrences × depth
    // 4 = 30M exploded slot rows): the partial aggregate collapses them
    // map-side to ≤ 256 counters per partition — the shuffle must stay
    // sketch-sized no matter the corpus
    time("t_cms_sketch (50k docs)") {
      consume(ops.Sketches.cmsSketch(
        docs10.select(explode(split(col("text"), " ", -1)).as("tok")),
        "tok", depth = 4, width = 64))
    }

    // 8l. oversampling at 50k docs: one domain-count aggregate
    // (broadcast back) + map-only copy explode — the output is written,
    // never shuffled
    time("pipe_oversample (50k docs)") {
      consume(ops.Sampling.oversample(
        docs10.select(col("doc_id"), col("source")), "doc_id", "source"))
    }

    // 8m. BPE training at 50k docs (~7.5M token occurrences): the corpus
    // is touched by exactly ONE aggregate (word vocab); all 6 merge
    // rounds then run on the vocabulary-sized table — cost must track
    // the single corpus pass, not merges × corpus
    time("t_bpe_train (50k docs, 6 merges)") {
      ops.Bpe.train(
        docs10.select(explode(split(col("text"), " ", -1)).as("tok"))
          .filter(length(col("tok")) >= 1),
        "tok", numMerges = 6).size.toLong
    }

    // 8n. BM25 at 50k docs: the term filter must kill non-query tokens
    // BELOW the exchange — cost tracks the tokenize scan, the shuffle
    // carries only (docs-with-hit × query-terms) postings
    time("t_bm25_topk (50k docs)") {
      consume(ops.Retrieval.bm25TopK(docs10, "doc_id", "text",
        Seq("q1" -> Seq("vector", "hash", "spark"),
          "q2" -> Seq("window", "filter"),
          "q3" -> Seq("stream", "batch", "merge", "slow")), topK = 5))
    }

    // 8o. SQ8 at 200k vectors: train is one posexplode groupBy(pos) with
    // map-side min/max partials (exchange carries partitions×dim rows);
    // encode + asymmetric dot are map-only over broadcast literal stats —
    // the whole pipeline must stay scan-bound
    time("sq8 train+encode+topk (200k)") {
      val st = ops.Quantization.sqTrain(emb10, "embedding")
        .orderBy("pos").collect()
      val lo = st.map(_.getDouble(1)).toSeq
      val step = st.map(_.getDouble(2)).toSeq
      val probe = emb10.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head.getSeq[Double](0)
      consume(emb10.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), ops.Quantization.sqDot(
          ops.Quantization.sqEncode(col("embedding"), lo, step),
          probe, lo, step).as("score"))
        .orderBy(round(col("score"), 4).desc, col("vec_id")).limit(10))
    }

    // 8p. PageRank at 50k nodes / 150k edges, 10 rounds: contributions
    // to the 50 hub nodes (~1k in-degree each) must partial-aggregate
    // map-side — cost tracks rounds × edge scan, and the hub skew never
    // concentrates on one reducer
    time("graph_pagerank (50k nodes, 10 it)") {
      val ids = docs10.select(col("doc_id"))
      val nCnt = ids.agg(count(lit(1)).as("nl"))
      val withN = ids.crossJoin(broadcast(nCnt))
      val e = withN.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 1) % col("nl")).as("dst"))
        .unionByName(withN.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 5) % col("nl")).as("dst")))
        .unionByName(ids.select(col("doc_id").as("src"),
          (col("doc_id") % 50).as("dst")))
      consume(ops.Graph.pageRank(e, ids, "src", "dst", "doc_id", iters = 10))
    }

    // 8q. interpolated trigram LM at 50k docs (~7.5M trigram events):
    // one explode feeds training counts AND scoring joins; all count
    // tables are vocabulary-bounded — cost must track the corpus passes,
    // not vocab³
    time("t_lm_interp (50k docs)") {
      consume(ops.Text.trigramNll(docs10, "doc_id", "text"))
    }

    // 8r. blocked fuzzy join at 150k dirty × 150k clean: the q-gram
    // index + stop-gram prune must keep verified candidates near-linear
    // — 22.5B all-pairs would never finish; the prune also absorbs the
    // shared 'Customer#0000' prefix block that would otherwise be one
    // hot gram
    time("j_fuzzy_blocked (150k x 150k)") {
      val cust10 = x10(core.Tables(spark, sfDir, "customer")
        .select("c_custkey", "c_name")) { (d, i) =>
        d.withColumn("c_custkey", col("c_custkey") + lit(i * 10000000L))
          .withColumn("c_name",
            concat(col("c_name"), lit("-"), lit(i.toString)))
      }
      val dirty = cust10.select(col("c_custkey").as("d_id"),
        when(col("c_custkey") % 3 === 0,
          concat(substring(col("c_name"), 1, 8),
            col("c_name").substr(lit(10), length(col("c_name")))))
          .when(col("c_custkey") % 3 === 1,
            concat(substring(col("c_name"), 1, 12), lit("X"),
              col("c_name").substr(lit(14), length(col("c_name")))))
          .otherwise(concat(col("c_name"), lit("Z"))).as("d_name"))
      consume(ops.Linkage.fuzzyJoinBlocked(dirty,
        cust10.select(col("c_custkey").as("c_id"), col("c_name")),
        "d_id", "d_name", "c_id", "c_name", q = 4, maxDf = 25, maxDist = 2))
    }

    // fuzzy join with the CORPUS-RELATIVE default maxDf (round 16 — the
    // winnow task-2 treatment applied to the repo's second absolute df
    // cut): the fixed-25 entry above is the honest footgun row (every
    // copy shares its original's name grams, so gram df grows ∝ the
    // fan-out past any absolute cut and blocks silently vanish); this
    // row runs the stock auto default (max(25, ⌈1.7e-4 × registry⌉) —
    // 26 at 150k, 77 at 450k) and its MATCHED-ROW count must therefore
    // be scale-stable where the fixed row's drops.
    time("j_fuzzy_blocked auto-maxDf") {
      val cust10 = x10(core.Tables(spark, sfDir, "customer")
        .select("c_custkey", "c_name")) { (d, i) =>
        d.withColumn("c_custkey", col("c_custkey") + lit(i * 10000000L))
          .withColumn("c_name",
            concat(col("c_name"), lit("-"), lit(i.toString)))
      }
      val dirty = cust10.select(col("c_custkey").as("d_id"),
        when(col("c_custkey") % 3 === 0,
          concat(substring(col("c_name"), 1, 8),
            col("c_name").substr(lit(10), length(col("c_name")))))
          .when(col("c_custkey") % 3 === 1,
            concat(substring(col("c_name"), 1, 12), lit("X"),
              col("c_name").substr(lit(14), length(col("c_name")))))
          .otherwise(concat(col("c_name"), lit("Z"))).as("d_name"))
      consume(ops.Linkage.fuzzyJoinBlocked(dirty,
        cust10.select(col("c_custkey").as("c_id"), col("c_name")),
        "d_id", "d_name", "c_id", "c_name", q = 4, maxDist = 2))
    }

    // 7. IVF train + assign at 200k vectors: the shuffle-free assignment
    // (packed-centroid HOF argmax) is the piece that used to shuffle
    // rows×k — training cost should stay ~linear in rows·iters
    time("ivf_kmeans_train+assign (200k)") {
      val e = emb10.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val cents = ops.Similarity.kmeansCentroids(
        e, "vec_id", "embedding", k = 16, iters = 2)
      ops.Similarity.ivfAssign(e, "embedding", cents)
        .groupBy("centroid_id").count().count()
    }

    // 8. CDC chunk + dedup index at 50k docs: the chunk pass is map-only
    // (native rolling hash), so cost must scale linearly with corpus
    // bytes; the dedup groupBy shuffles one row per chunk (~bytes/64).
    time("dedup_cdc (50k docs)") {
      consume(ops.Text.cdcChunks(docs10, "doc_id", "text")
        .filter(col("chunk_len") >= 8)
        .groupBy("chunk_md5")
        .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_occ") >= 2))
    }

    // 9. Unigram-LM hard-EM at 50k docs: after the single corpus-sized
    // wordCounts aggregate, every EM round runs over the vocabulary-
    // bounded word table — wall time must be ~flat in corpus size beyond
    // the first scan (the Bpe.train property).
    time("t_unigram_train (50k docs, 2 rounds)") {
      consume(ops.Unigram.train(docs10, "text", rounds = 2))
    }

    // 10. Kneser–Ney at 50k docs: same envelope as t_lm_perplexity —
    // event-scale work is ONE hashed explode + the scoring join; the
    // three KN statistics are windows over the vocab²-bounded count
    // table, so their cost must not grow with corpus size.
    time("t_lm_kneser_ney (50k docs)") {
      consume(ops.Text.kneserNeyNll(docs10, "doc_id", "text"))
    }

    // 11. DSIR at 50k docs: feature distributions are a single
    // 512-bounded aggregate; scoring joins a broadcast 512-row ratio
    // table — the only corpus-scale exchanges are the map-side-combined
    // count and the per-doc sum. Must scale like a groupBy, not a join.
    time("pipe_dsir_weights (50k docs)") {
      val (out, ev) = ops.Curation.dsirWeightsWithHandle(
        docs10, "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 512, persistEvents = true)
      val n = consume(out); ev.unpersist(); n
    }

    // 12. WordPiece corpus encode at 50k docs: greedy walk over DISTINCT
    // words only (vocabulary-bounded — 10 shifted copies share one
    // vocabulary), broadcast join back; corpus cost is one explode +
    // one join, like Bpe/Unigram encode.
    time("t_wordpiece_corpus (50k docs)") {
      val words = ops.Unigram.wordCounts(docs10, "text")
      val pieces = ops.WordPiece.vocabPieces(words)
      consume(ops.WordPiece.encodeCorpus(docs10, "doc_id", "text", pieces))
    }

    // 13. Aho–Corasick phrase scan at 50k docs with a THOUSAND patterns:
    // the point of the automaton — per-doc cost stays O(len), so 1000
    // patterns must cost ~the same as the 4-pattern oracle query. The
    // patterns (distinct word bigrams off the corpus itself) guarantee
    // real hits, exercising output propagation, not just walking.
    time("t_blocklist_scan (50k docs, 1000 patterns)") {
      val pats = ops.Unigram.wordCounts(docs10, "text")
        .orderBy(col("c").desc, col("word")).limit(40)
        .collect().map(_.getString(0))
      val phrases = (for (a <- pats.take(25); b <- pats.take(40))
        yield s"$a $b").take(1000).toSeq
      consume(docs10.select(col("doc_id"),
          explode(ops.Text.multiMatch(col("text"), phrases)).as("pattern"))
        .groupBy("pattern").agg(count(lit(1)).as("n_docs")))
    }

    // 14. Byte-level CDC at 50k docs: identical envelope to dedup_cdc —
    // the binary rolling pass is map-only; substring/md5 run on the
    // byte payload without a decode or copy-to-string step.
    time("t_cdc_bytes (50k docs)") {
      consume(ops.Text.cdcChunksBinary(docs10, "doc_id", "text")
        .filter(col("chunk_len") >= 8)
        .groupBy("chunk_md5")
        .agg(count(lit(1)).as("n_occ")))
    }

    // 15b. Trailing-window sums over 1M events (10× shifted copies —
    // event times overlap, densifying every trailing frame 10×): the
    // cumulative+as-of form must stay near-linear; the sliding RANGE
    // frame it replaces was O(rows × frame) (31.8 s for 100k rows with
    // 3 aggregates — see PERF round-9 third session).
    time("trailing_sums (1M events)") {
      val events10 = x10(core.Tables(spark, sfDir, "events")) { (d, i) =>
        d.withColumn("event_id", col("event_id") + lit(i * 100000000L))
      }
      consume(ops.Stats.trailingSums(events10, Seq("event_type"), "ts",
        "value", 7L * 86400L * 1000000L))
    }

    // 15c. Threshold quantile bucketing over 1M scored rows, 5 keys:
    // the partition-free form of CCNet perplexity bucketing
    // (Curation.quantileBuckets) — a per-key ntile window here would
    // sort 200k rows per language on ONE partition; the approx-threshold
    // form is a sketch aggregate + broadcast compare and must scale like
    // a groupBy. Synthetic scored rows isolate the operator from the LM.
    time("quantile_buckets (1M rows, 5 keys)") {
      val scored = spark.range(1000000L).select(
        concat(lit("lang"), (col("id") % 5).cast("string")).as("lang"),
        (pmod(xxhash64(col("id")), lit(100000L)).cast("double") / 1000.0)
          .as("nll"))
      consume(ops.Curation.quantileBuckets(scored, "lang", "nll",
          Seq(1.0 / 3, 2.0 / 3), Seq("head", "middle", "tail"))
        .groupBy("lang", "bucket").agg(count(lit(1)).as("n_docs")))
    }

    // 15. The full pretraining composition at 50k docs: every stage is
    // individually audited; this entry catches interaction cliffs
    // (e.g. the LM scoring running over an un-pruned survivor join, or
    // the tercile window receiving event-scale rows).
    time("pipe_pretrain_e2e (50k docs)") {
      val stop = Seq("the", "a")
      val markers = Seq(
        "dataish" -> Seq("data", "table", "row"),
        "queryish" -> Seq("query", "filter", "join"),
        "streamish" -> Seq("stream", "batch", "window"))
      val flagged = ops.Curation.flags(docs10, "doc_id", "text",
        stop, markers, shingleK = 4, numHashes = 16, bands = 4)
      val surv = flagged
        .filter(col("keep_exact") && col("is_dropped").isNull)
        .select("doc_id", "nt")
      val nll = ops.Text.bigramNll(
        docs10.join(surv.select("doc_id"), "doc_id"), "doc_id", "text")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(0)).orderBy(col("nll"), col("doc_id"))
      val kept = surv.join(nll.select("doc_id", "nll"), "doc_id")
        .withColumn("terc", ntile(3).over(w))
        .filter(col("terc") <= 2)
        .select("doc_id", "nt")
        .localCheckpoint()
      consume(ops.Relational.prefixSum(kept, "doc_id", "nt", "cum")
        .withColumn("bin",
          floor((col("cum") - col("nt")) / 4096.0).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("sum_tokens")))
    }

    // web-curation trio + trained classifier (round 11 additions):
    // line derivation is the same synthesized structure the oracled
    // queries use, so the measured plan is the registered plan at 10×
    time("t_c4_clean (50k docs)") {
      consume(ops.Curation.c4Clean(
        queries.WebQueries.synthLines(docs10), "doc_id", "idx", "line"))
    }
    time("dedup_paragraphs (50k docs)") {
      consume(ops.Curation.paragraphDedup(
        queries.WebQueries.synthLines(docs10), "doc_id", "idx", "line"))
    }
    time("t_classifier_train (50k docs, 3 rounds)") {
      consume(ops.Curation.trainTextClassifier(docs10, "doc_id", "text",
        col("lang") === "en", buckets = 64, rounds = 3, lr = 5.0))
    }
    // classifier inference family at 10× (judge r11 task 5): weights
    // trained ONCE outside the timed blocks — these entries measure the
    // serving-side claims: scoring is map-only (no join/shuffle), AUC's
    // ranking table is grid-bounded (≤10001 rows at ANY corpus size,
    // Curation.aucOnGrid), calibration is one combinable 10-row
    // aggregate. Each must scale like a scan, not like the trainer.
    locally {
      val w10 = ops.Curation.trainTextClassifier(docs10, "doc_id", "text",
          col("lang") === "en", buckets = 64, rounds = 3, lr = 5.0)
        .orderBy("bucket").select("w").collect().map(_.getDouble(0)).toSeq
      time("t_classifier_scored (50k docs, stored weights)") {
        consume(docs10.select(col("doc_id"),
            ops.Curation.classifierScore(col("text"), w10).as("__p"))
          .select(col("doc_id"), round(col("__p"), 4).as("p"),
            (col("__p") >= 0.5).as("pred")))
      }
      time("t_classifier_auc (50k docs, grid-bounded window)") {
        consume(ops.Curation.aucOnGrid(docs10.select(
          round(ops.Curation.classifierScore(col("text"), w10), 4).as("p"),
          (col("lang") === "en").cast("int").as("y")), "p", "y"))
      }
      time("t_classifier_calibration (50k docs)") {
        consume(docs10.select(
            round(ops.Curation.classifierScore(col("text"), w10), 4).as("p"),
            (col("lang") === "en").cast("int").as("y"))
          .withColumn("bin", least(floor(col("p") * 10).cast("long"), lit(9L)))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), round(avg("p"), 6).as("mean_p"),
            (sum(when(col("y") === 1, 1L).otherwise(0L)).cast("double") /
              count(lit(1))).as("pos_rate")))
      }
      time("t_classifier_retention (50k docs, 9 cuts)") {
        consume(docs10.select(
            round(round(ops.Curation.classifierScore(col("text"), w10), 4)
              * 10000, 0).cast("long").as("pi"),
            (col("lang") === "en").cast("int").as("y"))
          .select(col("pi"), col("y"),
            explode(sequence(lit(1L), lit(9L))).as("th"))
          .groupBy("th")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("pi") >= col("th") * 1000, 1L).otherwise(0L))
              .as("n_kept")))
      }
    }
    // LM stored-model serving (round 13 — the classifier
    // scored-from-stored story for the LM family). The serving scenario
    // is a 5k-doc BATCH arriving against a model trained on the 50k
    // corpus: from the STORE, scoring is batch-sized work (one explode
    // + a join to the stored pair table + broadcast fallbacks); without
    // the store, every serving batch re-pays the corpus-sized model
    // derivation. The 10× input gap between the two timed blocks is the
    // win — and it grows with corpus/batch ratio, unlike the
    // same-corpus self-train comparison (measured first: retraining an
    // add-one model on its own scoring corpus costs about the same as a
    // stored-model pass, because add-one "training" is just the count
    // aggregate — the store pays off exactly when the scored batch is
    // much smaller than the training corpus, which is the serving case).
    locally {
      val dir = java.nio.file.Files
        .createTempDirectory("lmstore").toString + "/model"
      ops.Text.bigramModelDF(docs10, "doc_id", "text").write.parquet(dir)
      val model = spark.read.parquet(dir)
      val batch = docs10.filter(col("doc_id") % 10 === 3)
      time("t_lm_score_stored (5k batch | 50k model)") {
        consume(ops.Text.bigramNllFromModel(batch, "doc_id", "text", model))
      }
      time("t_lm_score_retrain (5k batch, re-derived model)") {
        consume(ops.Text.bigramNllFromModel(batch, "doc_id", "text",
          ops.Text.bigramModelDF(docs10, "doc_id", "text")))
      }
    }
    // IVF serving lifecycle at 200k vectors (judge r11 task 4): write
    // the cell-partitioned index, partition-append a 20k batch, then a
    // pruned search — append cost must track the BATCH (assignment is
    // the zero-shuffle broadcast argmax; only touched partitions gain a
    // file), search cost the probed cells, never the full index.
    time("ivf_index write+append+search (200k+20k)") {
      val dir = java.nio.file.Files.createTempDirectory("ivfscale").toString
      val e = emb10.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val cents = ops.Similarity.kmeansCentroids(
        e, "vec_id", "embedding", k = 16, iters = 2)
      ops.Similarity.writeIvfIndex(e, "vec_id", "embedding", cents, dir)
      // deterministic batch: an id filter, not limit() on an unordered
      // frame — the timed work (cells touched, files appended) must not
      // vary run to run in the very entry that tracks it
      val batch = e.filter(col("vec_id") < 20000)
        .withColumn("vec_id", col("vec_id") + lit(50000000L))
      ops.Similarity.appendToIvfIndex(spark, dir, batch, "vec_id", "embedding")
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      consume(ops.Similarity.searchIvfIndex(spark, dir, probes,
        "probe_id", "vec_id", "embedding", k = 10, nProbe = 2))
    }
    // IVF maintenance LIFECYCLE composed end-to-end (round 13, judge
    // r12 stretch 7): the pieces are spec-pinned individually; this is
    // the production story run as one scenario — serve gen-0, ingest an
    // IN-distribution batch (drift ~0 ⇒ partition-append only, serving
    // dir unchanged), then ingest a SHIFTED batch (negated vectors ⇒
    // drift >> threshold ⇒ blue/green rebuild into gen-1), with the
    // serving pointer flipped by TxLog commits (a reader resolves the
    // pointer table transactionally — it can never see a half-built
    // generation). Search continuity asserted across the flip: the same
    // probes return full k-sized result sets from both generations.
    time("ivf_maintain lifecycle (200k+2x20k, drift rebuild)") {
      val root = java.nio.file.Files.createTempDirectory("ivflife").toString
      val e = emb10.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val cents = ops.Similarity.kmeansCentroids(
        e, "vec_id", "embedding", k = 16, iters = 2)
      ops.Similarity.writeIvfIndex(e, "vec_id", "embedding", cents,
        s"$root/gen0")
      // serving pointer under TxLog: generation flips are commits
      import spark.implicits._
      val ptr = s"$root/ptr"
      ops.TxLog.commitMerge(spark, ptr,
        Seq(("idx", s"$root/gen0", 0L)).toDF("name", "dir", "v"),
        Seq("name"), "v")
      def serving: String = ops.TxLog.read(spark, ptr).get
        .filter(col("name") === "idx").select("dir").head().getString(0)
      // batch 1: in-distribution (the fan-out replicates embeddings, so
      // this 20k slice has exactly the index's cell balance) -> append
      val b1 = e.filter(col("vec_id") < 20000)
        .withColumn("vec_id", col("vec_id") + lit(60000000L))
      val after1 = ops.Similarity.maintainIvfIndex(spark, serving,
        s"$root/gen1", b1, "vec_id", "embedding", k = 16,
        driftThreshold = 0.2)
      require(after1 == s"$root/gen0",
        "in-distribution batch must not trigger a rebuild")
      // batch 2: a point-mass direction (all-ones vectors) assigns the
      // whole batch to ONE cell -> TVD vs the spread index ~0.9 and the
      // rebuild lands in gen-1. (A negated batch was tried first and
      // did NOT drift: the synthetic embeddings are symmetric about the
      // origin, so negation maps the cell balance onto itself — the
      // drift signal needs a direction change, not a reflection.)
      val b2 = e.filter(col("vec_id") < 20000)
        .select((col("vec_id") + lit(70000000L)).as("vec_id"),
          transform(col("embedding"), x => x * 0.0 + 1.0).as("embedding"))
      val after2 = ops.Similarity.maintainIvfIndex(spark, after1,
        s"$root/gen1", b2, "vec_id", "embedding", k = 16,
        driftThreshold = 0.2)
      require(after2 == s"$root/gen1",
        "shifted batch must trigger the blue/green rebuild")
      ops.TxLog.commitMerge(spark, ptr,
        Seq(("idx", after2, 1L)).toDF("name", "dir", "v"), Seq("name"), "v")
      // continuity: same probes, full k results from both generations
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      val before = ops.Similarity.searchIvfIndex(spark, after1, probes,
        "probe_id", "vec_id", "embedding", k = 10, nProbe = 2).count()
      val after = consume(ops.Similarity.searchIvfIndex(spark, serving,
        probes, "probe_id", "vec_id", "embedding", k = 10, nProbe = 2))
      require(before == 200L && after == 200L,
        s"search continuity across the flip: $before / $after of 200")
      after
    }

    time("pipe_web_e2e (50k docs, shared line persist)") {
      val lines = queries.WebQueries.synthLines(docs10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val c4 = ops.Curation.c4Clean(lines, "doc_id", "idx", "line")
          .select(col("doc_id"), col("kept").as("c4_kept"))
        val gp = ops.Curation.gopherRules(docs10, lines,
            "doc_id", "text", "line",
            Seq("the", "a", "data", "table", "value", "row", "query", "line"))
          .select(col("doc_id"), col("keep").as("gopher_kept"))
        val pd = ops.Curation.paragraphDedup(lines, "doc_id", "idx", "line")
          .select(col("doc_id"), col("n_dropped"))
        consume(c4.join(gp, "doc_id").join(pd, "doc_id")
          .withColumn("final_keep", col("c4_kept") && col("gopher_kept")))
      } finally { lines.unpersist(); () }
    }

    // storage layout levers at 1M rows (round 12): z-order + manifest
    // write, then a 2%-band pruned scan — the point is the scan cost
    // tracks the FILES OVERLAPPING THE BAND, not the table; and
    // transactional bin-pack compaction of a fragmented table
    time("zorder write+stats+pruned_scan (1M rows)") {
      val dir = java.nio.file.Files.createTempDirectory("zscale").toString
      // row count rides the scale multiplier (1M at the default 10×)
      val pts = spark.range(100000L * scaleX)
        .select(col("id"),
          pmod(col("id") * 2654435761L, lit(100000L)).cast("double").as("x"),
          pmod(col("id") * 40503L + 7L, lit(100000L)).cast("double").as("y"))
      ops.Layout.writeZordered(pts, dir, Seq("x", "y"), bits = 6,
        outPartitions = 32)
      val pruned = ops.Layout.prunedScan(spark, dir,
        Seq(("y", 40000.0, 42000.0)))
      System.err.println(s"[zorder] pruned scan reads " +
        s"${pruned.inputFiles.length} of " +
        s"${spark.read.parquet(s"$dir/data").inputFiles.length} files")
      consume(pruned)
    }
    // string zone-map pruning at scale (judge r16 task 6's scale row):
    // a host-clustered table (the LLM-pipeline slice-key shape — each
    // file covers a narrow host range), native string min/max manifest,
    // then a host-range pruned scan. The guard asserts BOTH halves of
    // the contract: a strict file subset read, and exact row equality
    // vs the full-scan filter.
    time("host_pruned_scan (1M rows, string keys)") {
      val dir = java.nio.file.Files.createTempDirectory("hscale").toString
      val rows = spark.range(100000L * scaleX)
        .select(col("id"),
          concat(lit("host-"),
            format_string("%05d", pmod(col("id") * 7919L, lit(20000L))),
            lit(".example.com")).as("host"),
          pmod(col("id") * 40503L + 7L, lit(100000L)).cast("double")
            .as("score"))
      rows.repartitionByRange(32, col("host")).sortWithinPartitions("host")
        .write.parquet(s"$dir/data")
      ops.Layout.writeFileStats(spark, dir, Seq("host", "score"))
      val lo = "host-02000.example.com"; val hi = "host-02999.example.com"
      val pruned = ops.Layout.prunedScanTyped(spark, dir,
        Seq(("host", lo, hi)))
      val total = spark.read.parquet(s"$dir/data").inputFiles.length
      System.err.println(s"[host-prune] reads " +
        s"${pruned.inputFiles.length} of $total files")
      require(pruned.inputFiles.length < total,
        "host-range scan must read a strict file subset")
      val n = consume(pruned)
      val expect = rows.filter(col("host").between(lo, hi)).count()
      require(pruned.count() == expect,
        s"pruned rows ${pruned.count()} != full-scan filter $expect")
      n
    }

    time("txlog commitCompact (1M rows, 32 -> few files)") {
      val dir = java.nio.file.Files.createTempDirectory("compactscale")
        .toString + "/t"
      val src = spark.range(1000000)
        .select(col("id").as("k"), (col("id") * 3).as("v"), lit(1L).as("ver"))
        .repartition(32)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      try ops.TxLog.commitMerge(spark, dir, src, Seq("k"), "ver")
      finally spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.enabled", "true")
      val before = ops.TxLog.snapshotFiles(dir).get
      ops.TxLog.commitCompact(spark, dir, targetFileBytes = 16L * 1024 * 1024)
      val after = ops.TxLog.snapshotFiles(dir).get
      System.err.println(s"[compact] ${before._1} files -> ${after._1}")
      consume(ops.TxLog.read(spark, dir).get
        .agg(count(lit(1)).as("n"), sum("v").as("s")))
    }

    // winnowing candidate pairs at 50k docs (round 12): the O(n)/row
    // native fingerprint pass dominates; the maxDf prune must keep the
    // fp-key self-join fan-out bounded on the heavily-templated corpus
    // (most grams are corpus-wide boilerplate → dropped before pairing)
    // the synthetic corpus draws from a ~30-word vocabulary, so at 50k
    // docs EVERY organic char-5-gram is corpus-wide (df in the
    // thousands) — measured: maxDf=20 and 30 both prune the entire
    // fingerprint table and the entry timed an empty join. Mirror the
    // oracled query's injected-copy design instead: append a marker
    // derived from the ORIGINAL doc id, so each 10-copy fan-out group
    // shares rare marker grams (df=10 ≤ maxDf=30) while the templated
    // bulk still exercises the df prune at full volume — the pairing
    // path now joins real candidates (C(10,2) per group) and the guard
    // proves it measured them
    time("dedup_winnow_pairs (50k docs, 10x dup)") {
      val marked = docs10.withColumn("text",
        concat(col("text"), lit(" zq"),
          (col("doc_id") % 10000000L).cast("string"), lit("xq")))
      val (pairs, fp) = ops.Text.winnowPairsWithHandle(
        marked, "doc_id", "text",
        k = 5, w = 8, maxDf = 30, minShared = 2, persistFp = true)
      try {
        val n = consume(pairs)
        require(n > 0, "fan-out corpus must yield winnow candidate pairs")
        n
      } finally { fp.unpersist(); () }
    }

    // winnow dedup END-TO-END at 50k docs (round 13, judge r12 task 5):
    // candidates → full-fp-set Jaccard verify → CC → keeper, same
    // marker-group corpus as the pairs entry so candidate AND cluster
    // volume are real. Each 10-copy fan-out group shares its marker
    // grams and (being exact text copies) passes the Jaccard gate at
    // 100%, so the run must produce one cluster per surviving group —
    // the guard asserts nonzero cluster volume, the discipline that
    // caught the r12 winnow hash degeneracy.
    time("dedup_winnow_e2e (50k docs, 10x dup)") {
      val marked = docs10.withColumn("text",
        concat(col("text"), lit(" zq"),
          (col("doc_id") % 10000000L).cast("string"), lit("xq")))
      val (clusters, fp) = ops.Text.winnowDedupE2eWithHandle(
        marked, "doc_id", "text",
        k = 5, w = 8, maxDf = 30, minShared = 2, minJacPct = 50)
      try {
        val n = consume(clusters)
        require(n > 0, "fan-out corpus must yield winnow e2e clusters")
        n
      } finally { fp.unpersist(); () }
    }

    // winnow e2e with the CORPUS-RELATIVE default maxDf (round 16,
    // judge r15 task 2 — formerly the "scaled-knobs" row with a
    // per-scale hand edit): the fixed-knob entry above is not merely
    // superlinear at 30× — it silently LOSES RECALL (75 of 146
    // clusters, PERF.md r15), because every fingerprint's df grows ∝
    // the fan-out past any absolute cut. The library default is now
    // maxDf = 0 → resolveMaxDf's max(20, ⌈6e-4 × corpusDocs⌉), which
    // reproduces the measured-correct values at BOTH scale points with
    // NO per-scale knob edit (30 at the 50k-doc 10× corpus, 90 at
    // 150k/30×) — this entry runs the stock default and its cluster
    // count must therefore be scale-stable.
    time("dedup_winnow_e2e scaled-knobs") {
      val marked = docs10.withColumn("text",
        concat(col("text"), lit(" zq"),
          (col("doc_id") % 10000000L).cast("string"), lit("xq")))
      val (clusters, fp) = ops.Text.winnowDedupE2eWithHandle(
        marked, "doc_id", "text",
        k = 5, w = 8, minShared = 2, minJacPct = 50)
      try {
        val n = consume(clusters)
        require(n > 0, "fan-out corpus must yield winnow e2e clusters")
        n
      } finally { fp.unpersist(); () }
    }

    // incremental winnow GATE at 50k stored docs + 5k arrivals (round
    // 14, judge r13 task 5): the serving path — index built once from
    // the marker-group store (persisted, standing in for the parquet a
    // periodic batch job would write), then an arriving batch matched
    // per row: in-row fingerprints → rare-fp candidate join → integer
    // Jaccard verify. Each arrival is an edited copy of a stored doc
    // and shares its group's marker grams (df=10 ≤ maxDf=30) — but
    // winnowing only SELECTS a marker gram when it wins its windows,
    // so at minShared=2 only the groups with ≥2 selected rare
    // fingerprints candidate (MEASURED: ~100 of 500 groups ⇒ 1000
    // matched pairs — each matching arrival hits all 10 group members
    // and passes verify at ~100% Jaccard). The guard asserts real
    // matched volume, not an empty join.
    time("dedup_winnow_gate (50k store+5k arr)") {
      val marked = docs10.withColumn("text",
        concat(col("text"), lit(" zq"),
          (col("doc_id") % 10000000L).cast("string"), lit("xq")))
      val (sets0, rare0) = ops.Text.winnowIndex(
        marked, "doc_id", "text", k = 5, w = 8, maxDf = 30)
      val sets = sets0.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val arrivals = marked.filter(col("doc_id") % 10000000L < 500)
          .select((col("doc_id") + 900000000L).as("doc_id"),
            concat(lit("edited preamble "), col("text")).as("text"))
        val n = consume(ops.Text.winnowGateFromIndex(
          arrivals, "doc_id", "text", sets, rare0,
          k = 5, w = 8, minShared = 2, minJacPct = 50))
        require(n > 0, "every edited arrival must match its marker group")
        n
      } finally { sets.unpersist(); () }
    }

    // df-cut sparse cosine at 50k docs (round 12): the maxDf cut is the
    // whole scale story — on the templated corpus virtually every
    // shingle is corpus-wide (df in the thousands) and must die BEFORE
    // the postings self-join; only the injected per-group marker
    // shingles (df=10) survive to pair, so candidate volume stays
    // group-bounded while the tf/df/norm aggregates run at full volume.
    // The same marker trick as the winnow entry, same reason.
    time("sim_sparse_cosine (50k docs, 10x dup)") {
      val marked = docs10.withColumn("text",
        concat(col("text"), lit(" zq"),
          (col("doc_id") % 10000000L).cast("string"), lit(" xq end")))
      val (pairs, w) = ops.Retrieval.sparseCosinePairsWithHandle(
        marked, "doc_id", "text", shingleK = 4, maxDf = 30,
        minCos = 0.05, persistW = true)
      try {
        val n = consume(pairs)
        require(n > 0, "fan-out corpus must yield sparse-cosine pairs")
        n
      } finally { w.unpersist(); () }
    }

    // SFT assembly at 1M events / ~15k threads (round 14): at sf0.1
    // each thread carries ~667 turns against maxTurns=64, so the entry
    // exercises the bounded-state claim — the rank-window cut must
    // discard ~90% of turns BEFORE the collect; per-group state stays
    // 64 turns however long the thread runs.
    time("pipe_sft_assemble (1M events)") {
      val events10 = x10(core.Tables(spark, sfDir, "events")) { (d, i) =>
        d.withColumn("event_id", col("event_id") + lit(i * 100000000L))
          .withColumn("user_id", col("user_id") + lit(i * 10000000L))
      }
      val n = consume(ops.Curation.sftAssemble(events10,
        "user_id", "ts", "event_id", "event_type", "props", maxTurns = 64))
      require(n > 0, "fan-out events must assemble threads")
      n
    }

    // Cross-domain overlap at 50k docs (round 14): the fan-out copies
    // repeat text AND source, so distinct (shingle, domain) state is
    // scale-INVARIANT — the entry measures the corpus-pass side
    // (explode + map-side distinct + shingle shuffle) growing linearly
    // under a fixed domain geometry, the 100 TB shape (domains are
    // tens; text is what grows).
    time("t_domain_overlap (50k docs)") {
      val n = consume(ops.Text.domainOverlap(docs10, "source", "text", k = 3))
      require(n > 0, "fan-out corpus must overlap across sources")
      n
    }

    // Preference surface at 50k candidates (round 14). The 100 TB shape
    // is MORE PROMPTS, not bigger pools (pools are generation-sized —
    // n samples per prompt), so the pool COUNT spreads with the fan-out
    // (64·X = 640 pools of the base ~78 candidates): the quadratic
    // within-pool game join grows LINEARLY with prompts, and the BT
    // fit's collected matrix stays entity²-bounded (20 sources) however
    // far the corpus scales. Pool assignment is HASH-based: the
    // registry's `doc_id % pools` form degenerates here because the
    // synthetic source is a doc_id residue too — at 640 pools
    // (a multiple of 20) every modular pool is single-source and no
    // cross-entity game exists; the hash decorrelates (and is the
    // realistic prompt-grouping shape anyway).
    val prefPools = docs10.select(
      pmod(xxhash64(col("doc_id")), lit(64L * scaleX)).as("pid"),
      col("doc_id"),
      col("source"), ops.Preference.ttrReward(col("text")).as("r"))
    time("t_bt_fit games+fit (50k cands, 640 pools)") {
      val games = ops.Preference.pairwiseGames(
        prefPools, "pid", "doc_id", "source", "r")
      val n = consume(ops.Preference.btLeaderboard(games, iters = 3))
      require(n == 20, s"all 20 sources must play games, got $n")
      n
    }
    time("pipe_best_of_n (50k cands, 640 pools)") {
      val n = consume(ops.Preference.bestOfN(
        prefPools, "pid", "doc_id", "r", ns = Seq(1, 2, 4, 8)))
      require(n == 64L * scaleX * 4, s"4 rows per pool expected, got $n")
      n
    }

    // Post-training data lifecycle composed (round 14): one scenario
    // drives the full preference pipeline at scale — pools → DPO pairs,
    // pairwise games → STORED win matrix → BT fit from the store, an
    // arriving game batch folded in ADDITIVELY (the streaming-winMatrix
    // semantics) → refit, plus the best-of-n curve, GRPO advantages,
    // and pass@k over the same pools. Mirrors the IVF maintenance
    // lifecycle: the stored model is what crosses stages, never the
    // raw sample stream.
    time("posttrain lifecycle (50k cands, 640 pools)") {
      val pairs = ops.Preference.prefPairs(prefPools, "pid", "doc_id", "r")
      require(consume(pairs) == 64L * scaleX,
        "every pool must yield a DPO pair")
      // train-time: games from the EVEN pools; serving: arriving games
      // from the ODD pools fold into the stored matrix additively
      val g0 = ops.Preference.pairwiseGames(
        prefPools.filter(col("pid") % 2 === 0), "pid", "doc_id", "source",
        "r")
      val store = ops.Preference.winMatrix(g0)
        .withColumnRenamed("w", "w0")
      val gArr = ops.Preference.pairwiseGames(
        prefPools.filter(col("pid") % 2 === 1), "pid", "doc_id", "source",
        "r")
      val merged = store
        .join(ops.Preference.winMatrix(gArr).withColumnRenamed("w", "w1"),
          Seq("winner", "loser"), "full")
        .select(col("winner"), col("loser"),
          (coalesce(col("w0"), lit(0L)) + coalesce(col("w1"), lit(0L)))
            .as("w"))
      val fit = ops.Preference.btFromMatrix(merged, iters = 3)
      val strengths = fit.select("strength").collect().map(_.getDouble(0))
      require(strengths.length == 20 &&
        math.abs(strengths.sum - 1.0) < 1e-9,
        "refit from the merged store must cover all 20 sources")
      // the merged-store fit equals the fit over ALL games in one log
      val full = ops.Preference.btLeaderboard(ops.Preference.pairwiseGames(
        prefPools, "pid", "doc_id", "source", "r"), iters = 3)
      def board(d: org.apache.spark.sql.DataFrame) = d
        .select(col("entity"), col("wins"), col("games"),
          round(col("strength"), 9))
        .collect().map(_.toSeq).sortBy(_.head.toString)
      require(board(fit).sameElements(board(full)),
        "incremental matrix merge must equal the one-shot fit")
      val bon = consume(ops.Preference.bestOfN(prefPools, "pid", "doc_id",
        "r", ns = Seq(1, 4, 16)))
      val adv = consume(ops.Preference.grpoAdvantage(prefPools, "pid", "r"))
      val pak = consume(ops.Preference.passAtK(prefPools, "pid",
        col("r") > 0.5, ks = Seq(1, 4)))
      require(bon > 0 && adv == 5000L * scaleX && pak > 0)
      adv
    }

    // BT leaderboard lifecycle UNDER TxLog (round 15, judge r14 task 7
    // — the IVF maintenance treatment for the preference store): gen-0
    // win matrix written as a stored generation and named by a TxLog
    // pointer commit; an arriving game batch's matrix rows APPEND into
    // the store un-aggregated (the additive write — cheap, no
    // read-modify-write); the refit re-aggregates on read (the r15
    // btFromMatrix contract) and must equal the one-shot fit over the
    // full game log; compaction then writes the re-aggregated matrix
    // as gen-1 and the pointer FLIPS atomically (optimistic-concurrency
    // commit) — the serving fit is identical across the flip.
    time("bt_lifecycle txlog (640 pools, flip)") {
      val root = java.nio.file.Files.createTempDirectory("btlife").toString
      import spark.implicits._
      val matDir = s"$root/mat0"
      ops.Preference.winMatrix(ops.Preference.pairwiseGames(
          prefPools.filter(col("pid") % 2 === 0), "pid", "doc_id",
          "source", "r"))
        .write.parquet(matDir)
      val ptr = s"$root/ptr"
      ops.TxLog.commitMerge(spark, ptr,
        Seq(("board", matDir, 0L)).toDF("name", "dir", "v"),
        Seq("name"), "v")
      def serving: String = ops.TxLog.read(spark, ptr).get
        .filter(col("name") === "board").select("dir").head().getString(0)
      // arriving games: additive append, duplicate keys left in place
      ops.Preference.winMatrix(ops.Preference.pairwiseGames(
          prefPools.filter(col("pid") % 2 === 1), "pid", "doc_id",
          "source", "r"))
        .write.mode("append").parquet(matDir)
      def board(d: DataFrame) = d
        .select(col("entity"), col("wins"), col("games"),
          round(col("strength"), 9))
        .collect().map(_.toSeq).sortBy(_.head.toString)
      val refit = ops.Preference.btFromMatrix(
        spark.read.parquet(serving), iters = 3)
      val oneShot = ops.Preference.btLeaderboard(
        ops.Preference.pairwiseGames(prefPools, "pid", "doc_id",
          "source", "r"), iters = 3)
      require(board(refit).sameElements(board(oneShot)),
        "refit from the appended store must equal the one-shot fit")
      // compaction: re-aggregated matrix as gen-1, atomic pointer flip
      val gen1 = s"$root/mat1"
      spark.read.parquet(matDir)
        .groupBy("winner", "loser").agg(sum("w").as("w"))
        .write.parquet(gen1)
      ops.TxLog.commitMerge(spark, ptr,
        Seq(("board", gen1, 1L)).toDF("name", "dir", "v"),
        Seq("name"), "v")
      require(serving == gen1, "pointer must flip to the compacted gen")
      val afterFlip = ops.Preference.btFromMatrix(
        spark.read.parquet(serving), iters = 3)
      require(board(afterFlip).sameElements(board(refit)),
        "serving fit must be identical across the compaction flip")
      afterFlip.count()
    }

    // JS token drift at 50k arriving docs vs a FIXED stored reference
    // (round 14): the reference histogram comes from the base corpus's
    // even half and does not grow with the fan-out — the serving shape
    // (the stored model is never rescanned); what scales is the one
    // arriving-token pass. The term grid stays vocab × sources sized,
    // so cost should grow with the explode, not the grid.
    // Span corruption at 50k docs (round 14): per-doc work only — one
    // token explode, block windows whose per-doc state is the masked-
    // block count, one ordered assembly aggregation. Linear by
    // construction; the entry guards against an accidental corpus-level
    // stage creeping into the chain.
    time("pipe_span_corrupt (50k docs)") {
      val n = consume(ops.Corrupt.spanCorrupt(docs10, "doc_id", "text",
        blockLen = 3, maskOneInK = 7))
      require(n == 5000L * scaleX, s"one row per doc expected, got $n")
      n
    }

    // Schema validation at 1M arriving events vs a FIXED stored profile
    // (round 14): the profile is learned once from the base table's
    // even half (model-sized, does not grow); validation is ONE wide
    // aggregation pass over the arriving fan-out + a columns-sized
    // comparison join — the linear-scan, constant-state serving shape.
    time("pipe_schema_validate (1M arriving events)") {
      val base = core.Tables(spark, sfDir, "events")
      val profile = ops.Validation.numericProfile(
        base.filter(col("event_id") % 2 === 0), Seq("value", "user_id"))
      val events10 = x10(base) { (d, i) =>
        d.withColumn("event_id", col("event_id") + lit(i * 100000000L))
      }
      val n = consume(ops.Validation.validateNumeric(
        events10, profile, Seq("value", "user_id")))
      require(n == 6, s"3 stats x 2 columns expected, got $n")
      n
    }

    time("t_corpus_drift (50k arriving docs)") {
      val base = core.Tables(spark, sfDir, "documents")
      val refHist = ops.Validation.tokenHistogram(
        base.filter(col("doc_id") % 2 === 0), "text")
      val n = consume(ops.Validation.jsDrift(refHist, docs10, "source",
        "text"))
      require(n == 20, s"one drift row per source expected, got $n")
      n
    }

    // Streaming JS drift serving shape at 50k arriving docs (round 15,
    // judge r14 task 6): unlike the entry above (reference derived
    // inline), the reference histogram here is WRITTEN ONCE and read
    // back from its parquet store — exactly what streamingJsDrift's
    // foreachBatch body sees — and the fan-out arrives as TWO
    // micro-batches scored independently. Per-batch cost must be one
    // token pass over the batch + the model-sized term grid; the store
    // is scanned (cheaply), never re-derived, per batch.
    val jsLabel = "streaming_js_drift (2 batches, stored ref)"
    if (only.isEmpty || only.exists(jsLabel.contains)) {
      // the store-write is the (untimed) periodic batch train job
      val jsRefDir = java.nio.file.Files
        .createTempDirectory("scale-refhist").toString
      ops.Validation.tokenHistogram(
          core.Tables(spark, sfDir, "documents")
            .filter(col("doc_id") % 2 === 0), "text")
        .write.mode("overwrite").parquet(jsRefDir)
      time(jsLabel) {
        val refHist = spark.read.parquet(jsRefDir)
        // batch split on id BLOCKS (source is id-derived, so a parity
        // split would halve the sources per batch)
        val n1 = consume(ops.Validation.jsDrift(refHist,
          docs10.filter(floor(col("doc_id") / 20) % 2 === 0),
          "source", "text"))
        val n2 = consume(ops.Validation.jsDrift(refHist,
          docs10.filter(floor(col("doc_id") / 20) % 2 =!= 0),
          "source", "text"))
        require(n1 == 20 && n2 == 20,
          s"one drift row per source per batch expected, got $n1/$n2")
        n1 + n2
      }
    }

    // DoReMi bounded-histogram store + refit at 50k docs (round 15,
    // judge r14 task 3): the (domain × 512-bucket) hashed histogram is
    // the stored model — its size is FIXED regardless of corpus
    // vocabulary, so the cost profile must be one linear token pass +
    // a store-sized fit (the dsirModelDF shape the raw-token path
    // could never have). Append semantics exercised: two half-corpus
    // models unioned un-aggregated, refit re-aggregates on read.
    time("pipe_doremi_stored (50k docs)") {
      val store = ops.Sampling.doremiModelDF(
          docs10.filter(col("doc_id") % 2 === 0), "source", "text")
        .unionAll(ops.Sampling.doremiModelDF(
          docs10.filter(col("doc_id") % 2 =!= 0), "source", "text"))
      val n = consume(ops.Sampling.doremiFromModel(store))
      require(n == 20, s"one weight row per source expected, got $n")
      n
    }

    // Dawid–Skene EM at ~175k synthetic crowd labels (round 15): items
    // are the fanned docs, 5 workers × 70% coverage, 2 EM rounds. The
    // model state per round is 5×3² confusion cells + 3 priors
    // (LocalRelation round-boundary cut — see Annotate.dsPosteriors);
    // the data-sized cost is the per-round labels⋈posterior join, so
    // the slope must track label volume, never vocabulary or rounds².
    time("annot_dawid_skene (175k labels)") {
      // the ONE fixture copy: AnnotQueries.crowdLabels is also what the
      // oracled queries run, so this entry measures exactly the
      // certified label process
      consume(ops.Annotate.dawidSkene(
        queries.AnnotQueries.crowdLabels(docs10), "item", "wid", "lab",
        Seq("c0", "c1", "c2"), iters = 2))
    }

    // Crowd-to-classifier e2e at 50k docs (round 16, judge r15 task 7):
    // the pipe_crowd_classifier composition at fan-out scale — quarter
    // subsample crowd-reviewed (5 workers × 70% coverage), DS-cleaned
    // (2 EM rounds, binary), classifier trained on the cleaned subset
    // (3 GD rounds over the persisted feature table), whole corpus
    // scored map-only into the retention sweep. Slope must track
    // document volume: the DS model is 5×2²+2 rows, the classifier
    // model 64 rows, and the scoring pass is one aggregate HOF per doc.
    time("pipe_crowd_classifier (50k docs)") {
      val tru = docs10
        .filter(ops.Text.portableHash(concat(lit("qc:"),
          col("doc_id").cast("string"))) % 4 === 0)
        .select(col("doc_id").as("item"),
          when(col("lang") === "en", lit("good")).otherwise(lit("bad"))
            .as("tru"))
      val workers = spark.createDataFrame(Seq(
        ("w0", 5), ("w1", 10), ("w2", 20), ("w3", 30), ("w4", 45)))
        .toDF("wid", "err")
      val hq = ops.Text.portableHash(concat(lit("ql:"), col("wid"),
        lit(":"), col("item").cast("string")))
      val labels = tru.crossJoin(broadcast(workers))
        .filter(ops.Text.portableHash(concat(lit("qv:"), col("wid"),
          lit(":"), col("item").cast("string"))) % 10 < 7)
        .select(col("item"), col("wid"),
          when(hq % 100 < col("err"),
            when(col("tru") === "good", lit("bad")).otherwise(lit("good")))
            .otherwise(col("tru")).as("lab"))
        .persist()
      try {
        val ds = ops.Annotate.dawidSkene(labels, "item", "wid", "lab",
          Seq("bad", "good"), iters = 2)
        val train = docs10.join(
          ds.select(col("item").as("doc_id"), col("label")), "doc_id")
        val w = ops.Curation.trainTextClassifier(train, "doc_id", "text",
            col("label") === "good", buckets = 64, rounds = 3, lr = 5.0)
          .orderBy("bucket").select("w")
          .collect().map(_.getDouble(0)).toSeq
        consume(docs10.select(
            round(round(ops.Curation.classifierScore(col("text"), w), 4)
              * 10000, 0).cast("long").as("pi"),
            (col("lang") === "en").cast("int").as("y"))
          .select(col("pi"), col("y"),
            explode(sequence(lit(1L), lit(9L))).as("th"))
          .groupBy("th")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("pi") >= col("th") * 1000, 1L).otherwise(0L))
              .as("n_kept")))
      } finally { labels.unpersist(); () }
    }

    // Stride-scheduled mixture interleave at 50k docs (round 15): the
    // two-phase bucketed domain rank (hash-range split + domains×B
    // offset broadcast) plus the weight join — per-doc work only, so
    // the exponent must be ~1 regardless of the per-domain row count
    // (a per-domain window would serialize each domain here).
    time("pipe_mix_order (50k docs)") {
      val d = docs10.select("source", "doc_id")
      val w = d.select(col("source")).distinct()
        .select(col("source"),
          ((substring(col("source"), 4, 10).cast("int") + 1) / 210.0)
            .as("wt"))
      consume(ops.Sampling.strideOrder(d, "source", "doc_id", w))
    }

    spark.stop()
  }
}
