package graft
import org.apache.spark.sql.SparkSession
object Bench {
  // Bench-only entries: scale-path twins of declared brute-force queries
  // (no exact oracle per SURVEY §2.0.10 — the LSH candidate set is
  // recall-dependent — so they are timed here, not in `queries`).
  // Object-level so the lab tools (ExplainDump, QueryProbe) resolve the
  // SAME constructions the bench times instead of re-declaring partial
  // copies that drift (round 18: x13/x56/x69/x75/x23 were missing there).
  // x41 is the sub-quadratic alternative to q41's exact O(n²) self-join:
  // LSH candidate generation + exact vec_dot verify at the realistic
  // near-dup operating point (threshold 0.9, bits=8 → 256 buckets/table,
  // recall ≈99% there per EmbedOpsSpec). Candidate + verify cost does
  // not depend on the threshold (it is a final filter), so the timing is
  // directly comparable with q41's exact all-pairs scan.
  val benchOnly: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = Map(
    "x41_near_dup_lsh" -> ((s, dir) =>
      graft.engine.EmbedOps.cosineNearDupPairs(
        graft.engine.Tables.embeddings(s, dir),
        threshold = 0.9, bits = 8, tables = 8)),
    // x23 is the scale twin of q23's global-sort ntile: two-pass
    // approximate quantile bucketing (sketch scan + scan-speed assign,
    // no total sort). Value-based semantics, so no exact oracle; bucket
    // balance is asserted in ExtrasSpec. At fixture scale the two-pass
    // constant (sketch job + boundary collect) exceeds a 150k-row sort —
    // the twin exists for the regime where a single-partition total sort
    // cannot run at all, not to win at MBs.
    "x23_ntile_approx" -> ((s, dir) =>
      graft.engine.Windows.ntileApprox(
        graft.engine.Tables.orders(s, dir), "o_totalprice", 4)),
    // x56 is the sub-sharded twin of q56's per-source packing: the
    // window sort runs over (source, hash-shard) partitions, so no task
    // ever sorts a whole source (q56's low-cardinality partition key is
    // the one unmitigated scale risk flagged in round 2). Equivalence at
    // shards=1 + packing invariants are proven in SequencePackSpec.
    "x56_pack_sharded" -> ((s, dir) =>
      graft.engine.Training.sequencePackSharded(
        graft.engine.Tables.documents(s, dir), budget = 500, shards = 32)),
    // x10 is the banded twin of q10's range self-join: equi-join on
    // (user_id, 5-min bucket) with the band as a residual, so a hot
    // user's pair generation spreads over time buckets. Bit-identical
    // output proven in PlanShapeSpec ("x10 banded ≡ q10").
    "x10_range_banded" -> ((s, dir) =>
      graft.engine.Relational.bandedRangeJoin(s, dir)),
    // x106 is the segmented twin of q106's per-user interval-union
    // sweep: the within-segment sweep runs over balanced (user, day)
    // partitions and a tiny per-user segment window carries the
    // running max-end forward — no task ever sorts a whole user.
    // Exact: equivalence at two widths + a planted single-day bot
    // (intervals crossing every boundary) proven in SkewSpec.
    "x106_union_segmented" -> ((s, dir) =>
      graft.engine.Temporal.intervalUnionSegmented(
        graft.engine.Tables.events(s, dir))),
    // x94 is the two-phase prefix-sum twin of q94's concurrency sweep:
    // the running sum runs inside balanced (event_type, day) segments,
    // then a |segments|-row window per type carries segment net deltas
    // forward — no reducer ever sorts a whole event type. Exact (not
    // approximate): equivalence at two segment widths + a planted heavy
    // type proven in SkewSpec.
    "x94_sweep_segmented" -> ((s, dir) =>
      graft.engine.Behavioral.concurrencySweepSegmented(
        graft.engine.Tables.events(s, dir))),
    // x97 is the segmented twin of q97's per-user path window: trigrams
    // wholly inside a (user, day) segment come from balanced windows;
    // segment-spanning trigrams are rebuilt exactly from a first-2/
    // last-2 skeleton (≤4 rows per segment), so a bot's history never
    // lands on one reducer. Exact: equivalence + planted-bot case in
    // SkewSpec.
    "x97_paths_segmented" -> ((s, dir) =>
      graft.engine.Behavioral.eventPathsSegmented(
        graft.engine.Tables.events(s, dir))),
    // x33 is the MinHash-LSH twin of q33's exact all-pairs Jaccard on
    // the same doc_id<100 slice: signature + band candidates + estimate,
    // the sub-quadratic set-similarity path (error bound vs exact
    // Jaccard proven in MinHashLshSpec). Like x41 vs q41, the timing is
    // candidate generation + verify, directly comparable to the exact
    // token-join formulation.
    "x33_minhash_jaccard" -> ((s, dir) =>
      graft.engine.MinHashLsh.nearDuplicates(
        graft.engine.Tables.documents(s, dir).filter(
          org.apache.spark.sql.functions.col("doc_id") < 100),
        n = 1, k = 64, bands = 16, threshold = 0.5)),
    // x66 is the prefix-filter twin of q66's brand-blocked fuzzy match:
    // q-gram prefix candidates (bucket sizes follow token rarity, not
    // corpus size) + thresholded-levenshtein verify. Pair-identical
    // output proven in PlanShapeSpec ("x66 prefix-filter ≡ q66") — so
    // unlike the recall-dependent LSH twins this one has exact parity,
    // and the timing is directly comparable with q66.
    "x66_fuzzy_prefix" -> ((s, dir) => graft.engine.Scalars.x66(s, dir)),
    // x32 is the LSH twin of q32's global top-10 cosine pairs: bucket
    // candidates replace the O(n²) cross join, exact vec_dot ranks
    // them. MULTI-PROBE (8 bits × 5 tables × 4 lowest-margin bit
    // flips): recall 9-10/10 on the near-uniform fixtures — the
    // adversarial LSH regime — at 83% of the single-probe candidate
    // budget (measured in EmbedOpsSpec).
    "x32_top_pairs_lsh" -> ((s, dir) =>
      graft.engine.EmbedOps.topCosinePairsLshMultiProbe(
        graft.engine.Tables.embeddings(s, dir), k = 10)),
    // x75 is the keyset twin of q75's OFFSET pagination: the cursor
    // predicate + top-k fetch per page (page 3, k=50 — the same rows as
    // q75's OFFSET 100 LIMIT 50; identity proven in PlanShapeSpec).
    // OFFSET must order past all skipped rows, so its cost grows with
    // page depth; the keyset fetch is depth-independent. Timing here
    // includes the cursor walk (pages 1-2), i.e. the full cost of
    // reaching page 3 cold — directly comparable with q75's one fetch.
    "x75_keyset_page" -> ((s, dir) => graft.engine.SetOps.x75(s, dir)),
    // x69 is the sketch twin of q69's exact percentiles: a mergeable
    // constant-size approx_percentile sketch per group instead of
    // percentile_cont's every-value ObjectHashAggregate buffer (the
    // hot-group OOM at scale). Rank error ≤ 1/10000, bounded vs exact
    // in ExtrasSpec.
    "x69_approx_percentiles" -> ((s, dir) => graft.engine.Aggregates.x69(s, dir)),
    // x13 is the sketch twin of q13's exact countDistinct: HLL partials
    // are fixed-size regardless of customer cardinality, where q13's
    // Expand + distinct shuffle moves every (status, custkey) pair.
    // Union-losslessness + 5% error bound proven in SketchesSpec; the
    // persistent-rollup surface (dailySketches/rollup/estimateUnion)
    // is the actual scale artifact.
    "x13_distinct_sketch" -> ((s, dir) => graft.engine.Sketches.x13(s, dir)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Round 17 (optimization guide §2.2): AQE's post-shuffle coalescing
      // targets max(totalBytes/parallelism, minPartitionSize); the default
      // 1 MiB floor is sized against per-partition fetch overhead at
      // cluster scale, but on CPU-dense small-byte stages (pair-generating
      // joins, per-user window sweeps over MB-scale inputs) it coalesces a
      // 32-core session down to 1-4 tasks while the other cores idle.
      // 64 KiB keeps those stages at the session's parallelism; at any
      // realistic scale bytes/core >> 1 MiB, so the lowered floor is inert
      // — scale-adaptive by construction, env-overridable for the cluster.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"))
      // preferSortMergeJoin=false was trialed here (guide §3.1/§9) and
      // REVERTED: a one-directional A/B suggested −15% on the join-heavy
      // subset, but interleaved repetition (3 SHJ/SMJ pairs, min-of-3
      // each) showed the difference was ambient-window drift — SMJ won 2
      // of 3 pairs; identical code swung 2.7→6.5 s between windows. The
      // default planner stays; OPTIMIZATION_r17.md records the negative.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: absorb session/codegen/parquet-reader init so the
    // first timed query measures the query, not JVM startup (~5-6 s).
    try { SparkEntry.queries.head._2(spark, sfDir).count() }
    catch { case _: Throwable => () }
    // A failed query records -1 (not its time-to-failure) so the JSON
    // output is never mistaken for an all-green run.
    // Each query runs `reps` times and reports the MIN: host-level noise on
    // this box was measured inflating identical code by a uniform ~1.7×
    // within one day (BASELINE.md), and min-of-n is the standard estimator
    // for the machine-independent cost. Override with SPARK_GRAFT_BENCH_REPS=1
    // for a single-shot run.
    val reps = scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").trim.toInt)
      .getOrElse { System.err.println("[bench] bad SPARK_GRAFT_BENCH_REPS, using 2"); 2 }
      .max(1)
    // SPARK_GRAFT_BENCH_ONLY=q68_gap_fill,q94_concurrency → time just
    // those queries (adjudication re-runs of flagged bench drift; the
    // driver never sets it, so round benches stay full)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = (SparkEntry.queries ++ benchOnly)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = selected.map { case (name, fn) =>
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
        }
      }
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // Self-adjudication marker (round 17 — verdict r16 #4): the
    // min-of-reps time of ONE fixed reference query (q01 — tiny,
    // stable, code frozen since round 1) rides every emitted JSON
    // object, so a consumer holding a single BENCH_r{N}.json can
    // normalize totals for the host-contention windows BENCHLOG
    // documents (ambient inflation is uniform across queries, so
    // total/ambient is window-invariant where total alone is not).
    val ambient = results.getOrElse("q01_scan_filter_project", -1.0)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","ambient":$ambient,"queries":$qs,"sf":"$sfDir","reps":$reps,"cpus":"$cpus"}"""
    // The full per-query line is ~4.5 KB at 116 queries; the driver's
    // BENCH_r{N}.json keeps only a ~2 KB stdout tail, which cut the line's
    // HEAD (where the total lives) in r14 → "parsed": null. Bracket the full
    // line with a compact summary (no per-query map, always < 200 bytes) so
    // a complete JSON object survives the tail capture regardless of which
    // end gets truncated. The full map still reaches BENCHLOG.jsonl below.
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","ambient":$ambient,"sf":"$sfDir","reps":$reps,"cpus":"$cpus","nqueries":${results.size}}"""
    println(compact)
    println(line)
    println(compact)
    // The driver's per-round BENCH_r{N}.json truncates the per-query map, so
    // ~30 entries were invisible to cross-round comparison; append every full
    // run here so any round can diff ALL entries against any prior run.
    try {
      val log = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCHLOG", "BENCHLOG.jsonl"))
      java.nio.file.Files.write(log, (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not append BENCHLOG: ${e.getMessage}")
    }
    spark.stop()
  }
}
