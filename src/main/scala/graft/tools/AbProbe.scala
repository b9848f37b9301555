// Interleaved A/B wall-clock comparison of two DataFrame constructions
// inside ONE session (the only reliable way to compare on this host,
// where identical code swings 2x between contention windows — see
// OPTIMIZATION_r17.md "Adjudications").
//
//   sbt -batch "runMain graft.tools.AbProbe <case> [rounds]"
//
// Each registered case builds variant A (current code) and variant B
// (candidate) as functions; the probe warms both once, then runs
// A,B,A,B,... `rounds` times and prints per-variant min/median wall.
// Cases are edited in-place per experiment — this is a lab bench, not a
// stable surface.
package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object AbProbe {
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rounds = if (args.length > 1) args(1).toInt else 5
    val spark = session()

    // ---- experiment registry (edited per experiment) -------------------
    lazy val aqeOff = {
      val c = spark.newSession()
      c.conf.set("spark.sql.adaptive.enabled", "false")
      c
    }
    def aqeCase(q: String): (SparkSession => DataFrame, SparkSession => DataFrame) =
      ((s: SparkSession) => graft.SparkEntry.queries(q)(s, sfDir),
       (_: SparkSession) => graft.SparkEntry.queries(q)(aqeOff, sfDir))
    lazy val cpOff = {
      val c = spark.newSession()
      c.conf.set("spark.sql.constraintPropagation.enabled", "false")
      c
    }
    def cpCase(q: String): (SparkSession => DataFrame, SparkSession => DataFrame) =
      ((s: SparkSession) => graft.SparkEntry.queries(q)(s, sfDir),
       (_: SparkSession) => graft.SparkEntry.queries(q)(cpOff, sfDir))
    val cases: Map[String, (SparkSession => DataFrame, SparkSession => DataFrame)] = Map(
      // r18 cont. adjudication: A = shipped one-scan inline sweep,
      // B = the old two-scan self-union (flipped after the post-ship
      // bench showed q94 0.207 -> 0.408 against a 1.22 window factor)
      "q94_inline" -> (
        (s: SparkSession) => graft.SparkEntry.queries("q94_concurrency")(s, sfDir),
        (s: SparkSession) => {
          val ev = graft.engine.Tables.events(s, sfDir)
          val pts = ev.select(col("event_type"), col("ts").as("t"), lit(1).as("d"))
            .unionAll(ev.select(col("event_type"),
                                (col("ts") + expr("INTERVAL 5 MINUTES")).as("t"),
                                lit(-1).as("d")))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("event_type").orderBy(col("t"), col("d"))
          pts.withColumn("c", sum(col("d")).over(w))
            .groupBy("event_type")
            .agg(max(col("c")).as("max_concurrent"))
            .orderBy("event_type")
        }),
      // r18 cont.: q105 — pin the per-doc aggregate (3 consumers re-plan
      // the tokenize: tf, dfreq, avgdl chains; static plan shows 4 scans)
      "q105_pin" -> (
        (s: SparkSession) => graft.SparkEntry.queries("q105_bm25")(s, sfDir),
        (s: SparkSession) => {
          val qTerms = Seq("hash", "join", "index")
          val docs = graft.engine.Tables.documents(s, sfDir)
          val toks = docs
            .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
            .where(col("token") =!= "")
          val perDoc = toks.groupBy("doc_id").agg(
            count(lit(1)).as("dl"),
            qTerms.map(t =>
              count(when(col("token") === t, 1)).as(s"tf_$t")): _*)
          val tf = perDoc.select(col("doc_id"), col("dl"), expr(
              "stack(3, " + qTerms.map(t => s"'$t', tf_$t").mkString(", ") +
              ") AS (token, tf)"))
            .where(col("tf") > 0)
          // ONE stats aggregate replaces the dfreq AND avgdl chains:
          // df_t = #docs with tf_t > 0; avgdl = avg(dl) — both over perDoc
          val stats = perDoc.agg(
            avg(col("dl")).as("avgdl"),
            qTerms.map(t =>
              count(when(col(s"tf_$t") > 0, 1)).as(s"df_$t")): _*)
          val dfreq = stats.select(col("avgdl"), expr(
            "stack(3, " + qTerms.map(t => s"'$t', df_$t").mkString(", ") +
            ") AS (token, df)"))
          val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
          tf
            .join(broadcast(dfreq), "token")
            .crossJoin(broadcast(nDocs))
            .withColumn("w",
              log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
                  + lit(1.0)) *
                (col("tf") * lit(2.2)) /
                (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
            .groupBy("doc_id")
            .agg(round(sum(col("w")), 4).as("bm25"))
            .orderBy(desc("bm25"), col("doc_id"))
            .limit(50)
        }),
      // r18 cont.: q107 — pin uc (joined twice) + unfiltered bc; totals
      // become tiny sums over the pins (t_uni = Σc1, t_big = Σc12)
      "q107_pin" -> (
        (s: SparkSession) => graft.SparkEntry.queries("q107_pmi_collocations")(s, sfDir),
        (s: SparkSession) => {
          val docs = graft.engine.Tables.fanOut(graft.engine.Tables.documents(s, sfDir))
            .select(col("doc_id"),
              expr("filter(split(text, ' '), t -> t <> '')").as("l"))
          val uni = docs.select(explode(col("l")).as("w"))
          val uc = uni.groupBy("w").agg(count(lit(1)).as("c1"))
          val bg = docs.select(explode(expr(
              "CASE WHEN size(l) >= 2 THEN transform(sequence(0, size(l) - 2), " +
              "i -> struct(l[i] AS w1, l[i + 1] AS w2)) " +
              "ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END"))
              .as("p"))
            .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
          val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
            .filter(col("c12") >= 5)
          val totals = docs.agg(
            sum(size(col("l")).cast("long")).as("t_uni"),
            sum(greatest(size(col("l")) - 1, lit(0)).cast("long")).as("t_big"))
          bc.join(uc.select(col("w").as("w1"), col("c1").as("c1a")), "w1")
            .join(uc.select(col("w").as("w2"), col("c1").as("c1b")), "w2")
            .crossJoin(broadcast(totals))
            .withColumn("pmi", round(log(
              col("c12").cast("double") * col("t_uni").cast("double") *
                col("t_uni").cast("double") /
                (col("t_big").cast("double") * col("c1a").cast("double") *
                  col("c1b").cast("double"))), 4))
            .select(concat(col("w1"), lit(" "), col("w2")).as("bigram"),
              col("c12"), col("pmi"))
            .orderBy(desc("pmi"), col("bigram"))
            .limit(20)
        }),
      // r18 cont.: A = shipped pin-BEFORE-explode LSH bucketing (kernel
      // once per vector), B = the old explode-then-pin form (the inferred
      // generate filter re-evaluated the whole vec_lsh kernel per row)
      "x41_pin" -> Tuple2(
        (s: SparkSession) => graft.Bench.benchOnly("x41_near_dup_lsh")(s, sfDir),
        (s: SparkSession) => {
          import graft.engine._
          graft.functions.VectorFunctions.register(s)
          val corpus = Tables.fanOut(Tables.embeddings(s, sfDir))
          val bucketed = EmbedOps.withLshBuckets(corpus, 8, 8, "embedding")
            .select(col("vec_id"), posexplode(col("buckets")).as(Seq("table", "bucket")))
            .localCheckpoint(eager = false)
          val a = bucketed.select(col("table"), col("bucket"), col("vec_id").as("id_a"))
          val b = bucketed.select(col("table").as("table_b"), col("bucket").as("bucket_b"),
            col("vec_id").as("id_b"))
          val candidates = a
            .join(b, col("table") === col("table_b") && col("bucket") === col("bucket_b") &&
                     col("id_a") < col("id_b"))
            .select("id_a", "id_b")
            .distinct()
          val out: DataFrame = candidates
            .join(corpus.select(col("vec_id").as("id_a"), col("embedding").as("vec_a")), "id_a")
            .join(corpus.select(col("vec_id").as("id_b"), col("embedding").as("vec_b")), "id_b")
            .select(col("id_a"), col("id_b"),
              expr("vec_dot(vec_a, vec_b)").as("cosine"))
            .filter(col("cosine") >= 0.9)
            .orderBy("id_a", "id_b")
          out
        }),
      // r18 cont.: ISOLATED uni-branch probe — A explodes the inline
      // tokenize HOF (no inferred filter), B explodes the aliased
      // attribute (InferFiltersFromGenerate re-evaluates the HOF in a
      // pushed filter: 2 tokenizes per row)
      "q107_uni" -> (
        (s: SparkSession) => {
          graft.engine.Tables.fanOut(graft.engine.Tables.documents(s, sfDir))
            .select(explode(expr("filter(split(text, ' '), t -> t <> '')")).as("w"))
            .groupBy("w").agg(count(lit(1)).as("c1"))
        },
        (s: SparkSession) => {
          graft.engine.Tables.fanOut(graft.engine.Tables.documents(s, sfDir))
            .select(expr("filter(split(text, ' '), t -> t <> '')").as("l"))
            .select(explode(col("l")).as("w"))
            .groupBy("w").agg(count(lit(1)).as("c1"))
        }),
      // r18 cont. adjudication: A = shipped window-min single-pass form,
      // B = the old two-branch distinct + min-agg + broadcast-join form
      "q96_window" -> (
        (s: SparkSession) => graft.SparkEntry.queries("q96_retention")(s, sfDir),
        (s: SparkSession) => {
          val acts = graft.engine.Tables.events(s, sfDir)
            .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
          val first = acts.groupBy(col("user_id"))
            .agg(min(col("day")).as("first_day"))
          val grid = acts.join(first, "user_id")
            .select(
              floor(datediff(col("first_day"), lit("2024-01-01")) / 7).as("cohort_week"),
              floor(datediff(col("day"), col("first_day")) / 7).as("week_offset"),
              col("user_id"))
            .groupBy("cohort_week", "week_offset")
            .agg(countDistinct(col("user_id")).as("active_users"))
          grid
            .withColumn("retention",
              round(col("active_users") /
                max(when(col("week_offset") === 0, col("active_users")))
                  .over(org.apache.spark.sql.expressions.Window.partitionBy("cohort_week")), 4))
            .orderBy("cohort_week", "week_offset")
        }),
      "q99_aqe" -> aqeCase("q99_mktshare"),
      "q100_cp" -> cpCase("q100_nation_pairs"),
      "q54_cp" -> cpCase("q54_multiway_join"),
      "q54_aqe" -> aqeCase("q54_multiway_join"),
      "q105_aqe" -> aqeCase("q105_bm25"),
      "q98_aqe" -> aqeCase("q98_hierarchy"),
      "q42_hoist" -> (
        (s: SparkSession) => graft.engine.Training.q42(s, sfDir), // new hoisted form
        (s: SparkSession) => {                                    // old inline form
          val gramsExpr = expr(
            """array_distinct(transform(sequence(0, size(split(text, ' ')) - 3),
              |  i -> array_join(slice(split(text, ' '), i + 1, 3), ' ')))""".stripMargin)
          val toks = graft.engine.Tables.documents(s, sfDir)
            .filter(col("doc_id") < 100 && size(split(col("text"), " ")) >= 3)
            .select(col("doc_id"), explode(gramsExpr).as("token"),
                    size(gramsExpr).as("n_tokens"))
          graft.engine.LlmOps.jaccardPairs(toks)
        }),
      "q33_hoist" -> (
        (s: SparkSession) => graft.engine.LlmOps.q33(s, sfDir),
        (s: SparkSession) => {
          val toks = graft.engine.Tables.documents(s, sfDir)
            .filter(col("doc_id") < 100)
            .select(col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("token"),
              size(array_distinct(split(col("text"), " "))).as("n_tokens"))
          graft.engine.LlmOps.jaccardPairs(toks)
        }),
      "q59_ckpt" -> (
        (s: SparkSession) => graft.engine.Training.q59(s, sfDir),
        (s: SparkSession) => {
          // candidate: shared-gram localCheckpoint
          val docs = graft.engine.Tables.fanOut(graft.engine.Tables.documents(s, sfDir))
          val words = split(col("text"), " ")
          val grams8 = expr(
            """array_distinct(transform(sequence(0, size(w) - 8),
              |  i -> array_join(slice(w, i + 1, 8), ' ')))""".stripMargin)
          val mx = docs.agg(max(col("doc_id")).as("m"))
          val g = docs
            .filter(size(words) >= 8)
            .crossJoin(broadcast(mx))
            .withColumn("w", words)
            .select(col("doc_id"), col("m"), explode(grams8).as("gram"))
            .repartition(col("gram"))
            .localCheckpoint(eager = false)
          val test = g.filter(col("doc_id") * 10 > col("m") * 9)
            .select(col("gram")).distinct()
          g.filter(col("doc_id") * 10 <= col("m") * 9)
            .join(test, "gram")
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_shared"))
            .orderBy("doc_id")
        })
    )
    // --------------------------------------------------------------------

    val name = args.headOption.getOrElse(cases.keys.head)
    val (fa, fb) = cases(name)
    // window-invariant counters per run (round 18): wall alone is unusable
    // in contended windows; #jobs/#tasks/Σtask-cpu are deterministic
    @volatile var jobs = 0
    @volatile var tasks = 0
    @volatile var cpuMs = 0L
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        synchronized {
          tasks += 1
          if (e.taskMetrics != null) cpuMs += e.taskMetrics.executorCpuTime / 1000000L
        }
    })
    case class Run(wall: Double, jobs: Int, tasks: Int, cpuS: Double)
    def time(f: SparkSession => DataFrame): Run = {
      jobs = 0; tasks = 0; cpuMs = 0L
      val t0 = System.nanoTime()
      f(spark).count()
      val w = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftshim.Bus.drain(spark.sparkContext)
      Run(w, jobs, tasks, cpuMs / 1e3)
    }
    // warm both
    time(fa); time(fb)
    val as = collection.mutable.ArrayBuffer[Run]()
    val bs = collection.mutable.ArrayBuffer[Run]()
    (0 until rounds).foreach { _ => as += time(fa); bs += time(fb) }
    def stats(xs: Seq[Run]): String = {
      val s = xs.map(_.wall).sorted
      val cpu = xs.map(_.cpuS).sorted
      f"min=${s.head}%6.3f med=${s(s.size / 2)}%6.3f cpuMed=${cpu(cpu.size / 2)}%7.3f " +
        f"jobs=${xs.last.jobs}%3d tasks=${xs.last.tasks}%5d all=${xs.map(x => f"${x.wall}%5.3f").mkString(",")}"
    }
    println(s"[$name] A(current)   ${stats(as.toSeq)}")
    println(s"[$name] B(candidate) ${stats(bs.toSeq)}")
    spark.stop()
  }
}
