package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `analytics`: the engine's query entries over the sf0.1 fixture, each
  * timed as a noop-sink write of its whole plan (every column, every
  * Sort and Window), in a seeded order.
  *
  * A cycle runs the fixed [[slice]] once. The slice covers every engine
  * module and the kernel-bound entries; [[Analytics.entries]] is the full
  * set that the plan-preservation spec and the stored digests cover.
  */
final class Analytics(run: Run) extends Workload {
  import Analytics._
  private val spark = run.spark
  private val fns = entries
  private var order = slice
  private lazy val stored = storedDigests(run.home)
  private def resultRows(n: String): Long =
    stored.get(n).map(_._2.takeWhile(_ != ';').stripPrefix("rows=").toLong).getOrElse(0L)

  def setup(): Unit = {
    order = run.rng.shuffle(slice)
    // warm every entry's timed action: codegen, parquet readers, JIT
    run.phase("warm")(order.foreach(n => timedAction(fns(n)(spark, run.data))))
  }

  def cycle(i: Int): Unit = {
    order.foreach { n =>
      val layer = if (kernelEntries(n)) "functions" else "engine"
      run.op("entry", layer, n)(timedAction(fns(n)(spark, run.data)))
      if (Trace.enabled && kernelEntries(n)) run.kernelResults += resultRows(n)
    }
    order = run.rng.shuffle(order)
  }

  def check(): Unit = {
    slice.foreach { n =>
      val got = digest(fns(n)(spark, run.data), rowsOnly = stored.get(n).exists(_._1))
      stored.get(n) match {
        case Some((_, want)) if want == got => ()
        case Some((_, want)) => run.fail(s"$n digest $got != stored $want")
        case None => run.fail(s"$n has no stored digest")
      }
    }
  }
}

object Analytics {
  def entries: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries ++ graft.Bench.benchOnly

  /** Timed entries whose time is dominated by the `vec_*` kernels. */
  val kernelEntries: Set[String] = Set("q32_knn_cosine", "x41_near_dup_lsh")

  /** The timed subset, a few seconds a pass at 4 cores: joins, unions,
    * windows, aggregates, a pivot, the exact kernel scan q32 and the LSH
    * twin x41, including entries whose Join, Union or Window a `.count()`
    * would drop (q93, q104, q81, q94). q41's exact all-pairs scan (3.3 s
    * alone) is left to x41.
    */
  val slice: Seq[String] = Seq(
    "q104_next_purchase", "q93_funnel", "q94_concurrency", "q81_multi_window",
    "q62_histogram", "q45_pivot", "q32_knn_cosine", "x41_near_dup_lsh")

  /** The timed action: run the whole plan into the noop sink. */
  def timedAction(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Order-independent digest of a result: row count plus the sum and
    * xor of a 64-bit hash of every row. `rowsOnly` keeps just the count,
    * for entries whose values are not reproducible bit for bit.
    */
  def digest(df: DataFrame, rowsOnly: Boolean = false): String = {
    val cols = df.columns.indices.map(i => s"c$i")
    val d = df.toDF(cols: _*)
    if (rowsOnly) s"rows=${d.count()}"
    else {
      val h = xxhash64(cols.map(col): _*)
      val r = d.select(h.as("h")).agg(count(lit(1)),
        sum(col("h").cast("decimal(38,0)")), bit_xor(col("h"))).head()
      s"rows=${r.getLong(0)};sum=${Option(r.get(1)).getOrElse(0)};xor=${Option(r.get(2)).getOrElse(0)}"
    }
  }

  /** Stored digests: name → (rowsOnly, digest). */
  def storedDigests(home: String): Map[String, (Boolean, String)] = {
    val src = scala.io.Source.fromFile(s"$home/digests.tsv")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t")).collect {
      case Array(n, kind, d) => n -> (kind == "rows", d)
    }.toMap
    finally src.close()
  }

  /** Tools over every entry (not the timed slice):
    *  - `digests DATA OUT` writes the stored digests. Each entry is
    *    digested at two shuffle widths; one whose full digest differs
    *    between them is stored rows-only.
    *  - `times DATA` prints each entry's noop-write seconds (one warm-up
    *    run, then the median of three), the figures the slice was chosen
    *    from.
    */
  def main(args: Array[String]): Unit = {
    val data = args(1)
    val spark = Session.create(s"${sys.props("java.io.tmpdir")}/perfbench-analytics", sql = false)
    val names = entries.keys.toSeq.sorted
    args(0) match {
      case "digests" =>
        val lines = names.map { n =>
          spark.conf.set("spark.sql.shuffle.partitions", "4")
          val a = digest(entries(n)(spark, data))
          spark.conf.set("spark.sql.shuffle.partitions", "7")
          val b = digest(entries(n)(spark, data))
          if (a == b) s"$n\tfull\t$a"
          else s"$n\trows\t${digest(entries(n)(spark, data), rowsOnly = true)}"
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(args(2)),
          ("# entry\tkind\tdigest (perfbench.Analytics digests over gen_data.py --sf 0.1 --seed 42)\n" +
            lines.mkString("\n") + "\n").getBytes("UTF-8"))
      case "times" =>
        names.foreach { n =>
          timedAction(entries(n)(spark, data))
          val ts = (0 until 3).map { _ =>
            val t0 = System.nanoTime(); timedAction(entries(n)(spark, data))
            (System.nanoTime() - t0) / 1e9
          }
          println(f"$n\t${Stats.quantile(ts, 0.5)}%.3f")
        }
    }
    spark.stop()
  }
}
