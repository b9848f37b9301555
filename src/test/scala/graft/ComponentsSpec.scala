package graft

import org.apache.spark.sql.functions._
import graft.engine.Components

/** Connected components + canonical-per-cluster dedup: known shapes, a
  * randomized check against driver-side union-find, and the end-to-end
  * pairs→clusters→dedup law.
  */
class ComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  test("labels chains, triangles, and self-loops with the min reachable id") {
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),       // chain 1-2-3-4
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle
      (20L, 20L)                          // self-loop singleton
    ).toDF("src", "dst")
    val got = Components.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L), got.toString)
  }

  test("agrees with driver-side union-find on a random graph") {
    val rnd = new scala.util.Random(42)
    val n = 400
    val edges = Seq.fill(300)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    // driver-side union-find ground truth
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val vertices = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical truth label: min id in each component
    val truthGroups = vertices.groupBy(v => find(v.toInt))
      .values.map(vs => vs.map(v => v -> vs.min).toMap)
      .foldLeft(Map.empty[Long, Long])(_ ++ _)
    val got = Components.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == truthGroups,
      s"mismatch keys: ${(got.toSet diff truthGroups.toSet).take(5)}")
  }

  test("dedupByComponents keeps exactly one canonical member per cluster") {
    val docs = (1L to 10L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Components.dedupByComponents(docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // clusters {1,2,3} -> keep 1, {5,6} -> keep 5; everyone unpaired stays
    assert(kept == Set(1L, 4L, 5L, 7L, 8L, 9L, 10L), kept.toString)
  }

  test("preferBy keeps the highest-scoring cluster member, id as tiebreak") {
    val docs = Seq(
      (1L, 0.1), (2L, 0.9), (3L, 0.5),   // cluster {1,2,3}: best is 2
      (5L, 0.7), (6L, 0.7),              // cluster {5,6}: tie -> lower id 5
      (9L, 0.0)                          // unpaired: survives regardless
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Components.dedupByComponents(docs, pairs, preferBy = Some("quality"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 5L, 9L), kept.toString)
  }

  test("end-to-end: LSH near-dup pairs -> clusters -> one survivor per cluster") {
    // sf0.01 at threshold 0.4: the operating point where the fixture has
    // clusters (q41 finds 59 exact pairs there; sf0.001's max pairwise
    // cosine is only 0.48)
    val emb = graft.engine.Tables.embeddings(spark, sf001)
    val pairs = graft.engine.EmbedOps.cosineNearDupPairs(
      emb, threshold = 0.4, bits = 4, tables = 8)
    val kept = Components.dedupByComponents(emb, pairs, idCol = "vec_id")
    val total = emb.count()
    val losers = total - kept.count()
    assert(losers > 0, "fixture should contain near-dup clusters")
    // no surviving pair: both endpoints of any near-dup edge can't remain
    val k = kept.select(col("vec_id"))
    val survivingEdges = pairs
      .join(k.withColumnRenamed("vec_id", "id_a"), "id_a")
      .join(k.withColumnRenamed("vec_id", "id_b"), "id_b")
    assert(survivingEdges.isEmpty,
      survivingEdges.limit(3).collect().mkString(","))
    // exactly one survivor per component + all unpaired docs
    val comps = Components.connectedComponents(pairs, "id_a", "id_b")
    val nComponents = comps.select("comp").distinct().count()
    val nPairedDocs = comps.count()
    assert(kept.count() == total - nPairedDocs + nComponents)
  }

  test("convergence adds no action beyond each round's materialization") {
    // Count distinct job-bearing SQL-execution ids. Each round costs
    // exactly 2: the rebase pipeline (the round's joins, executed when its
    // Dataset.rdd materializes) and the count over the mapped RDD — one
    // sequential materialization, no repeated work. The accumulator folds
    // the convergence check into that pass; a separate changed-rows probe
    // (the old count-then-isEmpty shape) would add a third execution per
    // round and break the equality below.
    val actions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val id = js.properties.getProperty("spark.sql.execution.id")
        if (id != null) actions.add(id)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // path 1-2-3-4: label 1 reaches vertex 4 in 3 rounds, +1 no-change
      // round to observe convergence = 4 loop iterations
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
      Components.connectedComponents(edges).unpersist()
      // listener events post asynchronously — drain the bus before counting
      org.apache.spark.sql.graftshim.Bus.drain(spark.sparkContext)
      // init (rebase + count) + 4 rounds × (rebase + count) = 10; a
      // separate convergence action would push this to ≥ 14. Upper bound
      // rather than equality: the exact per-round wrapping of Dataset.rdd
      // into execution ids is a Spark internal that may shift across
      // versions — the property under test is only that NO extra
      // convergence action exists
      // floor guards against a vacuous pass (listener broken or rounds
      // not materializing at all): at minimum init + 4 rounds must act
      assert(actions.size >= 5 && actions.size <= 10,
        s"expected 5–10 executions (init + 4 rounds, ≤ 2 each), saw ${actions.size}" +
          " — either a separate convergence probe is back (> 10) or rounds" +
          " stopped materializing (< 5)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("fails loudly instead of silently mislabeling when iteration cap is hit") {
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Components.connectedComponents(chain, maxIter = 3)
    }
  }
}
