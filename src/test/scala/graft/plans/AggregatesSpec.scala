package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window

import graft.SparkTestSession

/** The bounded smallest-K cap aggregates replaced the
  * Window.partitionBy(bucket)+row_number cap in every banding family —
  * the survivor SET must be identical to the window form on any input,
  * and a hot bucket must no longer concentrate its full mass into one
  * task's shuffle read. */
class AggregatesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("smallestKLongs cap == window row_number cap on randomized buckets (caps binding and not)") {
    import spark.implicits._
    val r = new java.util.Random(11L)
    // bucket sizes 1..40 with K=7: some buckets under the cap, some over
    val rows = for {
      b <- 0 until 50
      n = 1 + r.nextInt(40)
      i <- 0 until n
    } yield (b % 4, b.toLong, r.nextLong() & Long.MaxValue)
    val df = rows.toDF("band", "bucket", "id")
    val k = 7
    val got = df.groupBy("band", "bucket")
      .agg(GraftFunctions.smallestKLongs(F.col("id"), k).as("__ids"))
      .select(F.col("band"), F.col("bucket"), F.explode(F.col("__ids")).as("id"))
      .collect().map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSet
    val w = Window.partitionBy("band", "bucket").orderBy("id")
    val want = df.withColumn("__rn", F.row_number().over(w))
      .filter(F.col("__rn") <= k).drop("__rn")
      .collect().map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSet
    assert(got == want, s"agg-only=${got -- want}, window-only=${want -- got}")
  }

  test("smallestKLongPairs carries the payload of each kept id") {
    import spark.implicits._
    val rows = (0 until 30).map(i => (i % 3, i.toLong, i.toLong * 1000 + 7))
    val df = rows.toDF("bucket", "id", "hash")
    val got = df.groupBy("bucket")
      .agg(GraftFunctions.smallestKLongPairs(F.col("id"), F.col("hash"), 4).as("__kept"))
      .select(F.col("bucket"), F.explode(F.col("__kept")).as("__e"))
      .select(F.col("bucket"), F.col("__e.id"), F.col("__e.payload"))
      .collect().map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSet
    val want = rows.groupBy(_._1).flatMap { case (b, g) =>
      g.sortBy(_._2).take(4).map { case (_, id, h) => (b, id, h) }
    }.toSet
    assert(got == want)
  }

  test("cap aggregate: a hot bucket's mass collapses map-side, never into one task") {
    import spark.implicits._
    // one bucket holding 100k rows, K=50: the window form shuffled all
    // 100k into one reducer and sorted them; the aggregate ships at most
    // K ids per map partition
    val df = spark.range(100000)
      .select(F.lit(0).as("band"), F.lit(0L).as("bucket"), F.col("id"))
    val maxTaskRecords = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        Option(t.taskMetrics).foreach { m =>
          maxTaskRecords.getAndUpdate(v => math.max(v, m.shuffleReadMetrics.recordsRead))
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val kept =
      try {
        val rws = df.groupBy("band", "bucket")
          .agg(GraftFunctions.smallestKLongs(F.col("id"), 50).as("__ids"))
          .select(F.explode(F.col("__ids")).as("id")).collect()
        org.apache.spark.ListenerBusSync.drain(spark.sparkContext)
        rws
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(kept.map(_.getLong(0)).toSeq.sorted == (0L until 50L).toSeq)
    val got = maxTaskRecords.get()
    assert(got < 1000L,
      s"hot bucket concentrated: one task shuffle-read $got records " +
        "(bounded partial buffers should ship ~one row per map partition)")
  }

  test("serialization roundtrip across partial merges keeps exact smallest-K") {
    import spark.implicits._
    // many partitions force serialize/deserialize + merge of partial
    // heap buffers; ties on values across partitions exercise merge
    val df = spark.range(0, 5000, 1, 16)
      .select((F.col("id") % 100).as("bucket"), (F.col("id") % 997).as("id"))
    val got = df.groupBy("bucket")
      .agg(GraftFunctions.smallestKLongs(F.col("id"), 3).as("__ids"))
      .select(F.col("bucket"), F.col("__ids"))
      .collect().map(x => (x.getLong(0), x.getSeq[Long](1))).toMap
    val want = (0L until 5000L).groupBy(_ % 100).map { case (b, g) =>
      (b, g.map(_ % 997).sorted.take(3))
    }
    want.foreach { case (b, ids) =>
      assert(got(b) == ids, s"bucket $b: got ${got(b)}, want $ids")
    }
  }

  test("BoundedMinHeap.sorted: the k smallest keys ascending, each with its payload") {
    val r = new java.util.Random(5L)
    for (k <- Seq(1, 2, 7, 64); n <- Seq(0, 1, k - 1, k, 3 * k + 5)) {
      // distinct keys spanning the whole long range, payload derived from key
      val keys = Iterator.continually(r.nextLong()).distinct
        .take(n).toSeq ++ (if (n > 2) Seq(Long.MinValue, Long.MaxValue) else Nil)
      val h = new BoundedMinHeap(k, withPayload = true)
      keys.foreach(key => h.insert(key, ~key))
      val (ks, ps) = h.sorted()
      val want = keys.sorted.take(k)
      assert(ks.toSeq == want, s"k=$k n=$n")
      assert(ps.toSeq == want.map(~_), s"k=$k n=$n payloads")
    }
  }
}
