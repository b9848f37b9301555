package graft

import org.apache.spark.sql.functions._
import graft.engine.{EmbedOps, Tables}

class EmbedOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("withL2Norm: fixture embeddings are unit-norm") {
    val norms = EmbedOps.withL2Norm(Tables.embeddings(spark, sf0001))
      .select("l2norm").collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-5))
  }

  test("withNormalized produces unit vectors; zero vector passes through") {
    val df = Seq(
      (1L, Array(3.0f, 4.0f)),
      (2L, Array(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = EmbedOps.withNormalized(df).orderBy("vec_id").collect()
    val u1 = out(0).getSeq[Double](3)
    assert(math.abs(u1(0) - 0.6) < 1e-12 && math.abs(u1(1) - 0.8) < 1e-12)
    assert(out(1).getSeq[Double](3).forall(_ == 0.0))
  }

  test("centroids: hand-checked per-label means, ordered by dim") {
    val df = Seq(
      (0, Array(1.0f, 2.0f)), (0, Array(3.0f, 6.0f)),
      (1, Array(10.0f, 0.0f))
    ).toDF("label", "embedding")
    val out = EmbedOps.centroids(df).orderBy("label").collect()
    assert(out(0).getSeq[Double](1) == Seq(2.0, 4.0))
    assert(out(1).getSeq[Double](1) == Seq(10.0, 0.0))
  }

  test("centroids on fixtures: one per label, correct dimensionality") {
    val cents = EmbedOps.centroids(Tables.embeddings(spark, sf0001)).collect()
    assert(cents.length == 10)
    assert(cents.forall(_.getSeq[Double](1).length == 64))
  }

  test("cosineNearDupPairs: planted near-dup found, threshold respected, subset of brute force") {
    import spark.implicits._
    val corpus = Tables.embeddings(spark, sf0001)
    val v = corpus.filter(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).toArray
    val dup = v.clone(); dup(1) = dup(1) + 0.02f
    val withDup = corpus.unionByName(
      Seq((8888L, dup.toSeq, 0)).toDF("vec_id", "embedding", "label")
        .withColumn("embedding", col("embedding").cast("array<float>")))
    val pairs = EmbedOps.cosineNearDupPairs(withDup, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 3L && p._2 == 8888L), pairs.mkString(","))
    assert(pairs.forall(_._3 >= 0.95))
  }

  test("sampled IVF: corpus job count constant in iters (full build grows), deterministic, retrieves") {
    val corpus = Tables.embeddings(spark, sf0001)
    val sc = spark.sparkContext
    def jobs(group: String)(f: => Unit): Int = {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    // the verdict-named gap was `iters` FULL-CORPUS passes during
    // training; the sampled build must cost the same bounded number of
    // corpus jobs no matter how many Lloyd iterations it runs (they all
    // happen driver-side on the sample)
    var c2: Array[Array[Double]] = null
    val j2 = jobs("ivf-sampled-i2") {
      c2 = EmbedOps.ivfBuildSampled(corpus, k = 8, iters = 2, maxTrain = 256)._2
    }
    val j16 = jobs("ivf-sampled-i16") {
      EmbedOps.ivfBuildSampled(corpus, k = 8, iters = 16, maxTrain = 256)
    }
    assert(j16 == j2, s"sampled-build corpus jobs grew with iters: $j2 -> $j16")
    assert(j2 <= 4, s"sampled build ran $j2 jobs — training is not bounded")
    // determinism (hash sample + seeded k-means++), full assignment, retrieval
    val (assigned, cents) = EmbedOps.ivfBuildSampled(corpus, k = 8, iters = 2, maxTrain = 256)
    assert(cents.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    assert(cents.length == 8 && cents.forall(_.length == 64))
    assert(assigned.count() == corpus.count())
    val q = corpus.filter(col("vec_id") === 11).select("embedding")
      .head().getSeq[Float](0)
    val hits = EmbedOps.knnIvf(assigned, cents, q, topK = 5, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    assert(hits.contains(11L), s"self not found: $hits")
  }

  test("sampled IVF-PQ: train-on-sample recall stays within 4/50 of the full-scan build") {
    val corpus = Tables.embeddings(spark, sf001)
    val (encoded, index) = EmbedOps.ivfPqBuildSampled(corpus, kCells = 16,
      m = 8, kPq = 32, cellIters = 8, pqIters = 8, maxTrain = 1024)
    val enc = encoded.persist()
    try {
      assert(enc.count() == corpus.count())
      assert(index.cells.length == 16 && index.model.centroids.length == 8 * 32 * 8)
      val (encoded2, index2) = EmbedOps.ivfPqBuildSampled(corpus, kCells = 16,
        m = 8, kPq = 32, cellIters = 8, pqIters = 8, maxTrain = 1024)
      assert(index.cells.map(_.toSeq).toSeq == index2.cells.map(_.toSeq).toSeq)
      assert(index.model.centroids.toSeq == index2.model.centroids.toSeq)
      // vec_pq_encode (pqEncode): 8 codes per vector, each a valid
      // codeword index, and re-encoding with the same model is deterministic
      def codesOf(df: org.apache.spark.sql.DataFrame) = df.select("vec_id", "pq_codes")
        .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
      val codes = codesOf(enc)
      assert(codes.values.forall(cs => cs.length == 8 && cs.forall(c => c >= 0 && c < 32)))
      assert(codes == codesOf(encoded2))
      // vec_pq_adc approximates the dot product as knnIvfPq scores with it:
      // dot(q, x) ≈ dot(q, cent_cell) + ADC(q, residual codes); mean abs
      // error well under the unit-vector scale (PQ is lossy by design —
      // the point is ranking, not reconstruction)
      val query = corpus.orderBy("vec_id").select("embedding").head().getSeq[Float](0)
      val model = index.model
      val table: Seq[Float] = for (j <- 0 until model.m; c <- 0 until model.k) yield
        (0 until model.dsub).map(d => query(j * model.dsub + d).toDouble *
          model.centroids((j * model.k + c) * model.dsub + d).toDouble).sum.toFloat
      val bias = index.cells.map(_.zip(query).map { case (a, b) => a * b }.sum).toSeq
      val adc = enc.select(col("vec_id"), (element_at(typedlit(bias), col("cell") + 1) +
          call_function("vec_pq_adc", col("pq_codes"), typedlit(table), lit(model.k))))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val n = corpus.count().toInt
      val exact = EmbedOps.knnBruteForce(corpus, query, n)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val mae = exact.keys.map(id => math.abs(exact(id) - adc(id))).sum / exact.size
      assert(mae < 0.15, s"ADC mean abs error too high: $mae")
      // recall floor: the full-scan IVF-PQ build (cellIters 2, pqIters 3)
      // measured 39/50 on these five queries; training on a bounded
      // sample may cost a little recall but must stay within 4 hits of it
      // (fixture and trainers are deterministic) and keep self-retrieval
      val queryIds = Seq(7L, 123L, 250L, 401L, 499L)
      var hits = 0
      queryIds.foreach { qid =>
        val q = corpus.filter(col("vec_id") === qid).select("embedding")
          .head().getSeq[Float](0)
        val truth = EmbedOps.knnBruteForce(corpus, q, 10)
          .collect().map(_.getLong(0)).toSet
        val res = EmbedOps.knnIvfPq(enc, index, q, topK = 10,
          nprobe = 6, shortlist = 100).collect().map(_.getLong(0)).toSet
        assert(res.contains(qid), s"query $qid did not retrieve itself")
        hits += (res intersect truth).size
      }
      assert(hits >= 35,
        s"sampled IVF-PQ recall@10 $hits/50 too far below the full-scan build's 39/50")
      assert(hits >= 30, s"sampled IVF-PQ recall@10 floor: $hits/50")
      info(s"sampled IVF-PQ recall@10: $hits/50; ADC mean abs error $mae")
    } finally enc.unpersist()
  }

  test("vec_lsh kernel matches a driver-side reference implementation") {
    // reference: same XXH64 plane-sign derivation as EmbedOps.planeSign,
    // same left-to-right double accumulation as vec_dot
    import org.apache.spark.sql.catalyst.expressions.XXH64
    def sign(t: Int, p: Int, d: Int): Float = {
      var h = 42L
      h = XXH64.hashInt(t, h); h = XXH64.hashInt(p, h); h = XXH64.hashLong(d.toLong, h)
      if (((h >> 7) & 1L) == 1L) 1.0f else -1.0f
    }
    val (bits, tables) = (4, 8)
    val rows = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val expected = rows.map { case (id, v) =>
      id -> (0 until tables).map { t =>
        (0 until bits).map { p =>
          var acc = 0.0
          for (d <- v.indices) acc += v(d).toDouble * sign(t, p, d).toDouble
          if (acc >= 0.0) 1 << p else 0
        }.sum
      }
    }.toMap
    val actual = EmbedOps.withLshBuckets(
      Tables.embeddings(spark, sf0001), bits = bits, tables = tables)
      .select("vec_id", "buckets").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(actual == expected)
  }

  test("vec_lsh null semantics: NULL vec -> NULL; null element -> zero sigs; bad planes -> NULL") {
    graft.functions.VectorFunctions.register(spark)
    val out = spark.sql(
      """SELECT
        |  vec_lsh(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT)), 1, 1) AS null_vec,
        |  vec_lsh(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)),
        |          array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT)), 1, 1) AS null_elem,
        |  vec_lsh(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT)), 1, 1) AS bad_planes,
        |  vec_lsh(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)),
        |          array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT),
        |                CAST(-1.0 AS FLOAT), CAST(-1.0 AS FLOAT)), 2, 1) AS two_bits
        |""".stripMargin).head()
    assert(out.isNullAt(0))
    assert(out.getSeq[Int](1) == Seq(0))
    assert(out.isNullAt(2))
    // plane0 = (1,1): dot = -1 < 0 -> bit0 unset; plane1 = (-1,-1): dot = 1 -> bit1 set
    assert(out.getSeq[Int](3) == Seq(2))
  }

  test("mixed-dimension corpus raises loudly; explicit dim matches the probed path") {
    import spark.implicits._
    val mixed = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      graft.engine.EmbedOps.withLshBuckets(mixed, bits = 2, tables = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("mixed-width")), e.toString)
    // uniform corpus: explicit dim (no data probe) ≡ probed buckets
    val uni = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, null))
      .toDF("vec_id", "embedding")
    val probed = graft.engine.EmbedOps.withLshBuckets(uni, bits = 2, tables = 2)
      .orderBy("vec_id").collect().toSeq
    val explicit = graft.engine.EmbedOps.withLshBuckets(uni, bits = 2, tables = 2,
      dim = Some(2)).orderBy("vec_id").collect().toSeq
    assert(probed == explicit)
    assert(probed.last.isNullAt(1), "null vector keeps NULL buckets")
    // all-null corpus (no width to probe): no phantom non-null buckets
    val allNull = Seq((1L, Option.empty[Array[Float]])).toDF("vec_id", "embedding")
    assert(graft.engine.EmbedOps.withLshBuckets(allNull, bits = 2, tables = 2)
      .filter(col("buckets").isNotNull).count() == 0)
  }

  test("LSH buckets are deterministic and bounded") {
    def run() = EmbedOps.withLshBuckets(Tables.embeddings(spark, sf0001), bits = 4, tables = 8)
      .select("vec_id", "buckets").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    val b1 = run(); val b2 = run()
    assert(b1 == b2)
    assert(b1.values.forall(bs => bs.length == 8 && bs.forall(b => b >= 0 && b < 16)))
  }

  test("x32 LSH top-pairs twin: measured recall vs q32 on the near-uniform fixtures") {
    // the fixture's global top-10 cosines are only ~0.44-0.48 — the
    // adversarial regime for hyperplane LSH (miss ≈19%/pair at 4x8) —
    // so the twin is recall-measured here, not identity-asserted (x41's
    // 0.9-threshold identity is the high-similarity operating point).
    // Planes are deterministic: the measured value is stable.
    Seq(sf0001, sf001).foreach { sf =>
      val brute = graft.engine.LlmOps.q32(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val lsh = EmbedOps.topCosinePairsLshMultiProbe(Tables.embeddings(spark, sf),
        k = 10, bits = 4, tables = 8, nprobe = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (lsh intersect brute).size
      assert(recall >= 7, s"$sf: LSH twin recall $recall/10 vs q32")
    }
  }

  test("multi-probe LSH lifts adversarial-regime recall to >=9/10 at BELOW the single-probe budget") {
    // round-6 VERDICT item 6: flipping the lowest-margin bits probes the
    // adjacent buckets a just-missed pair fell into. The 8x5x4 operating
    // point (bench default) must beat single-probe 4x8 on BOTH axes:
    // recall >= 9/10 where single-probe measured 8/10, with candidate
    // pairs at-or-below the single-probe count. Planes deterministic,
    // values stable.
    Seq(sf0001, sf001).foreach { sf =>
      val corpus = Tables.embeddings(spark, sf)
      val brute = graft.engine.LlmOps.q32(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val multi = EmbedOps.topCosinePairsLshMultiProbe(corpus, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (multi intersect brute).size
      assert(recall >= 9, s"$sf: multi-probe recall $recall/10 vs q32")
      val budgetSingle = EmbedOps.lshCandidateCount(corpus, bits = 4, tables = 8, nprobe = 0)
      val budgetMulti = EmbedOps.lshCandidateCount(corpus, bits = 8, tables = 5, nprobe = 4)
      assert(budgetMulti <= budgetSingle,
        s"$sf: multi-probe candidates $budgetMulti exceed single-probe $budgetSingle")
    }
  }

  test("vec_lsh_probe: base bucket matches vec_lsh; probes flip exactly one bit each, all distinct") {
    graft.functions.VectorFunctions.register(spark)
    val bucketsBase = EmbedOps.withLshBuckets(
      Tables.embeddings(spark, sf0001), bits = 8, tables = 5)
      .select("vec_id", "buckets").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val probed = EmbedOps.withLshProbes(
      Tables.embeddings(spark, sf0001), bits = 8, tables = 5, nprobe = 4)
      .select("vec_id", "buckets").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(probed.keySet == bucketsBase.keySet)
    probed.foreach { case (id, arr) =>
      assert(arr.length == 5 * 5, s"vec $id: ${arr.length} entries")
      (0 until 5).foreach { t =>
        val slice = arr.slice(t * 5, t * 5 + 5)
        assert(slice.head == bucketsBase(id)(t),
          s"vec $id table $t: base bucket drifted")
        // each probe differs from base in exactly one bit, none repeat
        slice.tail.foreach { p =>
          assert(Integer.bitCount(p ^ slice.head) == 1,
            s"vec $id table $t: probe $p is not a 1-bit flip of ${slice.head}")
        }
        assert(slice.distinct.length == slice.length,
          s"vec $id table $t: duplicate probes $slice")
      }
    }
  }

  test("int8 quantization: bounded element error, top-k survives, zero vector safe") {
    val corpus = Tables.embeddings(spark, sf001)
    val q = EmbedOps.quantizeInt8(corpus)
    // element-wise reconstruction error <= scale/2 (+ float eps)
    val maxErr = q
      .withColumn("deq", EmbedOps.dequantized())
      .withColumn("err", expr(
        """aggregate(zip_with(embedding, deq, (a, b) -> abs(CAST(a AS DOUBLE) - CAST(b AS DOUBLE))),
          |CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, x))""".stripMargin))
      .withColumn("bound", col("qscale").cast("double") / 2.0 + lit(1e-6))
      .filter(col("err") > col("bound"))
    assert(maxErr.isEmpty, maxErr.limit(3).collect().mkString(","))
    // kNN on dequantized vectors: >= 8/10 overlap with exact float top-10
    val query = corpus.orderBy("vec_id").select("embedding").head().getSeq[Float](0)
    val exact = EmbedOps.knnBruteForce(corpus, query, 10)
      .collect().map(_.getLong(0)).toSet
    val deqCorpus = q.select(col("vec_id"), EmbedOps.dequantized().as("embedding"))
    val approx = EmbedOps.knnBruteForce(deqCorpus, query, 10)
      .collect().map(_.getLong(0)).toSet
    assert((exact intersect approx).size >= 8, s"$exact vs $approx")
    // zero vector: scale 0, all-zero codes, reconstructs to zeros
    val z = EmbedOps.quantizeInt8(Seq((1L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding"))
      .withColumn("deq", EmbedOps.dequantized()).head()
    assert(z.getAs[Float]("qscale") == 0.0f)
    assert(z.getSeq[Float](z.fieldIndex("deq")).forall(_ == 0.0f))
  }

  test("vec_pq_adc_at / vec_rows_dot SQL kernels match their references (r17)") {
    graft.functions.VectorFunctions.register(spark)
    // vec_pq_adc_at(codes, flatTables, cell, k) == vec_pq_adc(codes,
    // that cell's slice, k) for every cell — the per-cell selection is
    // the only new behavior
    val m = 2; val k = 4; val nlist = 3
    val tables = (0 until nlist * m * k).map(i => (i * 7 % 13).toFloat)
    // Seq[Byte], not Array[Byte]: the encoder maps Array[Byte] to
    // BinaryType, and the kernels take ARRAY<TINYINT> (codes columns)
    val df = Seq(
      (Seq[Byte](0, 3), 0), (Seq[Byte](2, 1), 1), (Seq[Byte](3, 3), 2))
      .toDF("codes", "cell")
      .withColumn("tables", typedlit(tables).cast("array<float>"))
    val rows = df.selectExpr(
      s"vec_pq_adc_at(codes, tables, cell, $k) AS at",
      s"vec_pq_adc(codes, slice(tables, cell * ${m * k} + 1, ${m * k}), $k) AS ref",
      // out-of-range cell and short table refuse to NULL, never garbage
      s"vec_pq_adc_at(codes, tables, $nlist, $k) AS oob",
      s"vec_pq_adc_at(codes, slice(tables, 1, 3), cell, $k) AS short")
      .collect()
    rows.foreach { r =>
      assert(!r.isNullAt(0) && r.getDouble(0) == r.getDouble(1), r.toString)
      assert(r.isNullAt(2) && r.isNullAt(3), r.toString)
    }
    // vec_rows_dot(table, i, j, dim) == driver dot of rows i and j
    val dim = 5
    val mat = (0 until 4 * dim).map(i => (i * 3 % 11 - 5).toFloat)
    def refDot(i: Int, j: Int): Double = (0 until dim).map(d =>
      mat(i * dim + d).toDouble * mat(j * dim + d).toDouble).sum
    val rd = Seq((0, 1), (2, 3), (1, 1)).toDF("i", "j")
      .withColumn("t", typedlit(mat).cast("array<float>"))
      .selectExpr(s"i", "j", s"vec_rows_dot(t, i, j, $dim) AS d",
        s"vec_rows_dot(t, 4, j, $dim) AS oob").collect()
    rd.foreach { r =>
      assert(r.getDouble(2) == refDot(r.getInt(0), r.getInt(1)), r.toString)
      assert(r.isNullAt(3), r.toString)
    }
  }
}
