package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.VectorFunctions
import graft.sources.{Coerce, Rebuild}
import graft.sources.Rebuild.TableSpec
import org.apache.spark.sql.types._

/** Regression pins for the review-pass fixes: null/length semantics of the
  * native vector kernels, FK null handling, negative-value stream stats.
  */
class EdgeCaseSpec extends SparkSpecBase {
  import spark.implicits._

  test("q35 argmax rewrite: score ties resolve to the FIRST term (window order parity)") {
    // round 18 replaced q35's row_number window (ORDER BY score DESC,
    // term ASC) with a min_by((-score, term)) aggregate; the tie rule —
    // equal rounded scores pick the lexicographically first term — must
    // survive. Craft a corpus where every doc's terms tie exactly:
    // df(a) = df(b) = n_docs ⇒ idf = ln(1) = 0 ⇒ both scores round to 0.
    val dir = java.nio.file.Files.createTempDirectory("graft_q35_tie").toString
    Seq((1L, "b a b a"), (2L, "a b"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.engine.LlmOps.q35(spark, dir)
      .select("doc_id", "term", "score").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "a", 0.0), (2L, "a", 0.0)),
      "tie must resolve to term 'a' with score 0.0 for both docs")
  }

  test("vec_dot: mismatched lengths or null elements yield NULL, like the HOF form") {
    VectorFunctions.register(spark)
    Seq(
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)),        // length mismatch
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f))                // control: equal
    ).toDF("a", "b").createOrReplaceTempView("vd_edge")
    val out = spark.sql(
      """SELECT vec_dot(a, b) AS native,
        |  aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS hof
        |FROM vd_edge""".stripMargin).collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"native/HOF null disagreement: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
    // explicit null element
    val withNull = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS d").head()
    assert(withNull.isNullAt(0))
    val normNull = spark.sql(
      "SELECT vec_norm_sq(array(CAST(NULL AS FLOAT))) AS n").head()
    assert(normNull.isNullAt(0))
  }

  test("runningUserStats: all-negative values report the true (negative) max") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{Streams, UserEvent, UserStats}
    val stream = MemoryStream[UserEvent](spark)
    val q = Streams.runningUserStats(stream.toDS())
      .writeStream.format("memory").queryName("neg_stats").outputMode("append").start()
    stream.addData(
      UserEvent(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 5, -3.0),
      UserEvent(2, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 5, -1.5))
    q.processAllAvailable(); q.stop()
    val s = spark.table("neg_stats").as[UserStats].collect().head
    assert(s.max_value == -1.5, s.toString)
  }

  test("Rebuild: NULL foreign keys are not integrity violations") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_nullfk").toString
    Files.writeString(Paths.get(s"$dir/DEPTS-20250101.csv"),
      "dept_id,dept_name\n10,math\n")
    Files.writeString(Paths.get(s"$dir/COURSES-20250101.csv"),
      "course_id,dept_id,credits\n1,10,3.0\n2,,4.0\n")  // course 2: optional dept
    val plan = Seq(
      TableSpec("depts", raw"DEPTS-(\d{8})\.csv",
        StructType(Seq(StructField("dept_id", IntegerType),
          StructField("dept_name", StringType))), naturalKey = Seq("dept_id")),
      TableSpec("courses", raw"COURSES-(\d{8})\.csv",
        StructType(Seq(StructField("course_id", IntegerType),
          StructField("dept_id", IntegerType), StructField("credits", DoubleType))),
        naturalKey = Seq("course_id"),
        foreignKeys = Seq(("dept_id", "depts", "dept_id"))))
    val reports = Rebuild.run(spark, dir, s"$dir/out", plan)
    assert(reports.find(_.table == "courses").get.fkViolations.values.sum == 0)
    assert(spark.read.parquet(s"$dir/out/courses").count() == 2)
  }

  test("q32 fixture path is unaffected by the stricter null semantics") {
    // all fixture embeddings are fixed-width non-null: cosine never null
    val out = graft.engine.LlmOps.q32(spark, sf0001).collect()
    assert(out.length == 10 && out.forall(!_.isNullAt(2)))
  }

  test("JdbcSink: flush at exact batch boundary and mid-batch remainder") {
    import spark.implicits._
    // keep derby.log out of the repo root
    System.setProperty("derby.system.home",
      java.nio.file.Files.createTempDirectory("graft_derby_edge_home").toString)
    val dbDir = java.nio.file.Files.createTempDirectory("graft_derby_edge").resolve("db")
    val url = s"jdbc:derby:$dbDir;create=true"
    // 5 rows, batchSize=2: two full batches + a remainder of 1
    val df = (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v")
    graft.sources.JdbcSink.ensureTable(url, "edge_batch", df.schema, Seq("id"))
    graft.sources.JdbcSink.upsert(df, url, "edge_batch", Seq("id"), batchSize = 2)
    // replay with updates: mixed hit/miss inside one batch
    val df2 = Seq((2L, "v2x"), (6L, "v6"), (3L, "v3x")).toDF("id", "v")
    graft.sources.JdbcSink.upsert(df2, url, "edge_batch", Seq("id"), batchSize = 2)
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val got = spark.read.jdbc(url, "edge_batch", props)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "v1", 2L -> "v2x", 3L -> "v3x", 4L -> "v4",
      5L -> "v5", 6L -> "v6"), got.toString)
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$dbDir;shutdown=true")
    catch { case _: java.sql.SQLException => () }
  }

  test("ntileApprox: constant column puts everything in one bucket, never crashes") {
    import spark.implicits._
    val flat = Seq.fill(100)(7.0).zipWithIndex.map(_.swap).toDF("id", "x")
    val out = graft.engine.Windows.ntileApprox(flat, "x", 4)
    val buckets = out.select("quartile").distinct().collect().map(_.getInt(0)).toSet
    assert(buckets == Set(1), buckets.toString)  // value-ties stay together
    // empty input: NULL sketch bounds must not NPE
    val empty = graft.engine.Windows.ntileApprox(flat.filter(col("id") < 0), "x", 4)
    assert(empty.columns.contains("quartile") && empty.count() == 0)
  }

  test("ntileApprox on non-double columns (INT/LONG): sketch casts, no ClassCastException") {
    import spark.implicits._
    val ints = (1 to 100).toDF("x") // IntegerType value column
    val out = graft.engine.Windows.ntileApprox(ints, "x", 4)
    val perBucket = out.groupBy("quartile").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perBucket.keySet == Set(1, 2, 3, 4), perBucket.toString)
    assert(perBucket.values.forall(n => n >= 15 && n <= 35), perBucket.toString)
    val longs = (1L to 100L).toDF("x")
    assert(graft.engine.Windows.ntileApprox(longs, "x", 4).count() == 100)
  }

  test("contamination edge cases: oversized n, empty test set, short docs") {
    import spark.implicits._
    val corpus = Seq((1L, "one two three"), (2L, "four five")).toDF("doc_id", "text")
    val test = Seq((9L, "one two three")).toDF("doc_id", "text")
    // n larger than every doc: nothing to compare, empty report, no crash
    assert(graft.engine.Training.contamination(corpus, test, n = 10).count() == 0)
    // empty test set: empty report and decontaminate keeps the corpus whole
    val none = test.filter(col("doc_id") < 0)
    assert(graft.engine.Training.contamination(corpus, none).count() == 0)
    assert(graft.engine.Training.decontaminate(corpus, none).count() == 2)
    // n = 3 flags the verbatim doc only
    val hits = graft.engine.Training.contamination(corpus, test, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 1L), hits.toString)
  }

  test("writeZOrdered edge cases: constant column, bad arguments") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zedge").toString
    // constant column: zero span must not divide by zero or drop rows
    val flat = (1L to 100L).map(i => (i, 7L)).toDF("a", "b")
    graft.sources.Layout.writeZOrdered(flat, s"$dir/z", Seq("a", "b"), nFiles = 4)
    assert(spark.read.parquet(s"$dir/z").count() == 100)
    // empty input: min/max are null — degrade to a plain write, no NPE
    graft.sources.Layout.writeZOrdered(flat.filter(col("a") < 0), s"$dir/empty",
      Seq("a", "b"), nFiles = 4)
    assert(spark.read.parquet(s"$dir/empty").count() == 0)
    intercept[IllegalArgumentException] {
      graft.sources.Layout.writeZOrdered(flat, s"$dir/one", Seq("a"), nFiles = 4)
    }
    intercept[IllegalArgumentException] {
      graft.sources.Layout.writeZOrdered(flat, s"$dir/wide", Seq("a", "b"), 4, bits = 32)
    }
  }

  test("upsertPartitioned rejects a batch without the partition column") {
    import spark.implicits._
    val batch = Seq((1L, "x")).toDF("id", "v")
    intercept[IllegalArgumentException] {
      graft.sources.Upsert.upsertPartitioned(spark, "/tmp/nowhere", batch, Seq("id"), "day")
    }
  }

  test("Profile.profile on an empty generation reports n_rows=0, no NPE") {
    import spark.implicits._
    val empty = Seq((1L, "x")).toDF("id", "v").filter(col("id") < 0)
    val p = graft.sources.Profile.profile(empty).collect()
    assert(p.length == 2 && p.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L))
  }

  test("withLshBuckets survives a NULL vector in the probed position") {
    import spark.implicits._
    val df = Seq(
      (1L, Option.empty[Array[Float]]),
      (2L, Some(Array(1.0f, 0.0f)))
    ).toDF("vec_id", "embedding")
    val out = graft.engine.EmbedOps.withLshBuckets(df, bits = 2, tables = 2)
      .orderBy("vec_id").collect()
    assert(out(0).isNullAt(2), "null vector must yield null buckets")
    assert(out(1).getSeq[Int](2).length == 2)
  }

  test("compactParquet refuses a hive-partitioned layout instead of single-tasking it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_part_compact").toString
    Seq((1L, "a")).toDF("id", "p").write.partitionBy("p").parquet(s"$dir/data")
    val e = intercept[IllegalArgumentException] {
      graft.sources.Layout.compactParquet(spark, s"$dir/data", s"$dir/out")
    }
    assert(e.getMessage.contains("partition"))
    // a genuinely empty dir gets the accurate diagnosis, not partition advice
    val emptyDir = java.nio.file.Files.createTempDirectory("graft_empty_compact").toString
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.Layout.compactParquet(spark, emptyDir, s"$dir/out2")
    }
    assert(e2.getMessage.contains("nothing to compact"), e2.getMessage)
  }

  test("Components: empty pair set leaves every document untouched") {
    import spark.implicits._
    val docs = (1L to 5L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val kept = graft.engine.Components.dedupByComponents(docs, noPairs)
    assert(kept.count() == 5)
  }

  test("pivot: a stratum with no rows for a status yields NULL on both engines' shapes") {
    // priority×status cells can be empty at tiny SFs — q45 must emit NULL
    // there (sum of empty), not 0 or a dropped column
    val out = graft.engine.Reshape.q45(spark, sf0001)
    assert(out.schema.fieldNames.toSeq == Seq("o_orderpriority", "F", "O", "P"))
    assert(out.count() > 0)
  }

  test("NOT IN three-valued logic (q63's semantics): null list empties, empty list passes all") {
    // the three corners of `k NOT IN (S)`, each checked against the manual
    // null-safe anti-join formulation Catalyst derives (anti on
    // `k = v OR isnull(k = v)`), so the declared q63 behavior is pinned to
    // first principles, not just to DuckDB agreement
    import spark.implicits._
    val probe = Seq(Some(1), Some(2), None).toDF("k")
    probe.createOrReplaceTempView("niq_probe")
    Seq(Some(10), None).toDF("v").createOrReplaceTempView("niq_withnull")
    Seq(Some(1), Some(10)).toDF("v").createOrReplaceTempView("niq_nonull")
    spark.sql("SELECT * FROM niq_nonull WHERE v > 100").createOrReplaceTempView("niq_empty")

    def sqlNotIn(list: String): Seq[Option[Int]] =
      spark.sql(s"SELECT k FROM niq_probe WHERE k NOT IN (SELECT v FROM $list)")
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
        .toSeq.sortBy(_.getOrElse(Int.MinValue))
    def manualNotIn(list: String): Seq[Option[Int]] = {
      val sub = spark.table(list)
      probe.join(sub, col("k") === col("v") || (col("k") === col("v")).isNull, "left_anti")
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
        .toSeq.sortBy(_.getOrElse(Int.MinValue))
    }
    // 1) S contains NULL → no row can satisfy NOT IN: silently empty
    assert(sqlNotIn("niq_withnull").isEmpty, "null-in-list must empty the result")
    // 2) empty S → every probe row passes, including the NULL key
    assert(sqlNotIn("niq_empty") == Seq(None, Some(1), Some(2)))
    // 3) non-null S → null probe key is UNKNOWN (dropped), members dropped
    assert(sqlNotIn("niq_nonull") == Seq(Some(2)))
    // and the manual null-safe formulation agrees on all three corners
    Seq("niq_withnull", "niq_empty", "niq_nonull").foreach { l =>
      assert(sqlNotIn(l) == manualNotIn(l), s"manual anti-join diverges on $l")
    }
  }

  test("fuzzyMatchPrefix: empty, single-doc, and null-name corpora yield no pairs, no NPE") {
    import spark.implicits._
    val schema = "id LONG, name STRING, block STRING"
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    assert(graft.engine.Scalars.fuzzyMatchPrefix(empty).count() == 0)
    val single = Seq((1L, "only document here", "B")).toDF("id", "name", "block")
    assert(graft.engine.Scalars.fuzzyMatchPrefix(single).count() == 0)
    // null names: invisible to both the prefix path (length null fails
    // len >= q) and the short path (fails len <= shortLen) — dropped as
    // unmatched facts rather than crashing the tokenizer
    val nulls = Seq((1L, null: String, "B"), (2L, "real text here", "B"),
                    (3L, "real text hers", "B")).toDF("id", "name", "block")
    val out = graft.engine.Scalars.fuzzyMatchPrefix(nulls)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((2L, 3L)), out.toString)
  }

  test("q68 forward fill: days before a customer's first order stay null, never invented") {
    // last(ignoreNulls) must not hallucinate a value for the leading gap —
    // for every customer the fill is null strictly before the first
    // active day and non-null from it onward
    val rows = graft.engine.Temporal.q68(spark, sf0001)
      .select("o_custkey", "day", "day_total", "filled_total").collect()
      .groupBy(_.getLong(0))
    assert(rows.nonEmpty)
    rows.foreach { case (cust, rs) =>
      val sorted = rs.sortBy(_.getString(1))
      val firstActive = sorted.indexWhere(!_.isNullAt(2))
      assert(firstActive >= 0, s"customer $cust has no active day")
      sorted.take(firstActive).foreach(r =>
        assert(r.isNullAt(3), s"customer $cust: fill invented before first order"))
      sorted.drop(firstActive).foreach(r =>
        assert(!r.isNullAt(3), s"customer $cust: fill dropped after first order"))
    }
  }

  test("near-dup ingest: null-text docs are accepted as unique, never near-dup each other") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_null").toString + "/s"
    val batch = Seq(Doc(1L, null), Doc(2L, null), Doc(3L, "one two three four"))
    graft.streaming.Streams.nearDupIngestBatch(batch.toDF(), dir,
      n = 3, k = 32, bands = 8, threshold = 0.7)
    val ids = spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L), ids.toString)
  }

  test("chunkWindows: single-token and exact-boundary docs produce the full-coverage chunk set") {
    import spark.implicits._
    // k=5, stride=3: n=1 → 1 chunk; n=5 (== k) → 1 chunk; n=8 (k+s) → 2
    // chunks; n=6 → ceil(1/3)+1 = 2 chunks, final chunk short
    val docs = Seq(
      (1L, "a"),
      (2L, "a b c d e"),
      (3L, "a b c d e f g h"),
      (4L, "a b c d e f")
    ).toDF("doc_id", "text")
    val got = graft.engine.Training.chunkWindows(docs, "doc_id", "text", 5, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == Set((1L, 0, 1), (2L, 0, 5),
      (3L, 0, 5), (3L, 1, 5), (4L, 0, 5), (4L, 1, 3)), got.toString)
  }

  test("compression ratio survives huge repetitive payloads without deflate buffer issues") {
    import spark.implicits._
    // 1 MB of repetition: multiple deflate() buffer refills per row —
    // the while-loop drain must accumulate, not truncate
    val big = "spam " * 200000
    val out = graft.engine.TextOps.withCompressionRatio(
      Seq((1L, big)).toDF("id", "text")).collect()(0)
    val ratio = out.getDouble(out.fieldIndex("compression_ratio"))
    assert(ratio > 0.0 && ratio < 0.01, s"1MB repetition should crush: $ratio")
  }

  test("interpolateLinear: gaps fill on the trend line, edges flat, all-null keys stay null") {
    import spark.implicits._
    val df = Seq(
      // key 1: 10 @t0, gap, gap, 40 @t3 → 20, 30 on the line
      (1L, 0L, Some(10.0)), (1L, 1L, None), (1L, 2L, None), (1L, 3L, Some(40.0)),
      // uneven spacing: 0 @t0, 30 @t6, probe t2 → 10
      (2L, 0L, Some(0.0)), (2L, 2L, None), (2L, 6L, Some(30.0)),
      // leading + trailing gaps extrapolate flat
      (3L, 0L, None), (3L, 1L, Some(5.0)), (3L, 2L, None),
      // no observations at all → stays null
      (4L, 0L, None), (4L, 1L, None)
    ).toDF("k", "t", "v")
    val out = graft.engine.Temporal.interpolateLinear(df, "k", "t", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out((1L, 1L)).contains(20.0) && out((1L, 2L)).contains(30.0), out.toString)
    assert(out((2L, 2L)).contains(10.0), out.toString)
    assert(out((3L, 0L)).contains(5.0) && out((3L, 2L)).contains(5.0), out.toString)
    assert(out((4L, 0L)).isEmpty && out((4L, 1L)).isEmpty, out.toString)
    // observed points pass through untouched
    assert(out((1L, 0L)).contains(10.0) && out((1L, 3L)).contains(40.0))
    // both direction scans share ONE key exchange (q85's multi-frame rule)
    val plan = graft.engine.Temporal.interpolateLinear(df, "k", "t", "v")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(k".r.findAllIn(plan).size
    assert(exchanges == 1, s"direction scans re-shuffled ($exchanges exchanges):\n" + plan)
  }

  test("q88 prune helpers: empty corpus yields an empty (not crashing) result") {
    import spark.implicits._
    // the declared q88 reads the fixture; the edge here is the shape on
    // a filtered-to-empty corpus: collect_set over nothing is [], the
    // HOF filter against an empty array keeps every token, n_pruned = 0
    val docs = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val bw = docs.filter(lit(false))
      .select(explode(split(col("text"), " ")).as("term"))
      .agg(collect_set("term").as("bw_terms"))
    val out = docs.crossJoin(broadcast(bw))
      .select(col("doc_id"),
        array_join(filter(split(col("text"), " "),
          w => !array_contains(col("bw_terms"), w)), " ").as("text_pruned"),
        size(filter(split(col("text"), " "),
          w => array_contains(col("bw_terms"), w))).as("n_pruned"))
      .collect()(0)
    assert(out.getString(1) == "alpha beta" && out.getInt(2) == 0, out.toString)
  }
}
