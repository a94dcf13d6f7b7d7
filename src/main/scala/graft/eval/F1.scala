package graft.eval

import org.apache.spark.sql.{DataFrame, functions => F}

/** Evaluation aggregations as distributed DataFrame plans.
  *
  * Macro-F1 semantics match sklearn `f1_score(average="macro")`
  * (used at `/root/reference/train_model.py:136`,
  * `/root/reference/analyze_model.py:22-23`): classes = union of labels seen
  * in y_true and y_pred; per-class F1 = 2TP / (2TP + FP + FN), 0 when the
  * denominator is 0 (zero_division=0); macro = unweighted mean over classes.
  *
  * One shuffle (groupBy class); the per-class table is tiny, so the final
  * mean is a cheap second aggregation.
  */
object F1 {

  /** Per-class TP/FP/FN/F1 table. The big table is shuffled exactly once
    * (the confusion groupBy); the tiny (<= n_classes²)-row confusion matrix
    * is collected and the per-class arithmetic is plain local code —
    * no cached lineage, no extra jobs. */
  def perClass(df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val conf = confusion(df, labelCol, predCol).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val classes = (conf.map(_._1) ++ conf.map(_._2)).distinct.sorted
    val rows = classes.map { cls =>
      val tp = conf.collect { case (a, p, n) if a == cls && p == cls => n }.sum
      val fp = conf.collect { case (a, p, n) if p == cls && a != cls => n }.sum
      val fn = conf.collect { case (a, p, n) if a == cls && p != cls => n }.sum
      val f1 = if (2 * tp + fp + fn == 0) 0.0 else 2.0 * tp / (2.0 * tp + fp + fn)
      (cls, tp, fp, fn, f1)
    }
    val spark = df.sparkSession
    import spark.implicits._
    rows.toSeq.toDF("cls", "tp", "fp", "fn", "f1")
  }

  /** Metric STABILITY under deterministic resampling — the confidence
    * band a scorecard should carry next to its point estimate: per-class
    * confusion + F1 over `nResamples` independent half-subsamples, each
    * selected by an md5 bucket of (key, resample index). No RNG — the
    * subsample membership is a pure function of the key, so any engine
    * reproduces the whole table bit-for-bit (q93's oracle does) and two
    * runs agree. Per-resample class set = union of labels and preds seen
    * IN THAT subsample (`perClass`'s sklearn stance, per b).
    *
    * Scale shape: ONE exchange total — the (b, actual, predicted)
    * confusion groupBy over the b-exploded frame (B× rows map-side,
    * combined before the shuffle; the broadcast b-range cross join is
    * narrow). The collected confusion is <= B x classes² rows; the F1
    * arithmetic is local driver code on that tiny table. */
  def resampledPerClass(df: DataFrame, labelCol: String, predCol: String,
                        keyCol: org.apache.spark.sql.Column,
                        nResamples: Int = 50): DataFrame = {
    require(nResamples > 0, s"nResamples must be positive: $nResamples")
    val spark = df.sparkSession
    val bs = spark.range(nResamples).toDF("__b")
    val sub = df.crossJoin(F.broadcast(bs))
      .filter(graft.functions.TextFunctions.md5Bucket(
        F.concat(keyCol.cast("string"), F.lit("#"), F.col("__b").cast("string")), 2) === 0)
    val conf = sub
      .groupBy(F.col("__b"), F.col(labelCol).as("actual"), F.col(predCol).as("predicted"))
      .agg(F.count(F.lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val rows = conf.map(_._1).distinct.sorted.flatMap { b =>
      val cb = conf.filter(_._1 == b)
      val classes = (cb.map(_._2) ++ cb.map(_._3)).distinct.sorted
      classes.map { cls =>
        val tp = cb.collect { case (_, a, p, n) if a == cls && p == cls => n }.sum
        val fp = cb.collect { case (_, a, p, n) if p == cls && a != cls => n }.sum
        val fn = cb.collect { case (_, a, p, n) if a == cls && p != cls => n }.sum
        val f1 = if (2 * tp + fp + fn == 0) 0.0 else 2.0 * tp / (2.0 * tp + fp + fn)
        (b, cls, tp, fp, fn, f1)
      }
    }
    import spark.implicits._
    rows.toSeq.toDF("b", "cls", "tp", "fp", "fn", "f1")
  }

  /** Macro-F1 over the (label, pred) columns. */
  def macroF1(df: DataFrame, labelCol: String, predCol: String): Double = {
    val row = perClass(df, labelCol, predCol).agg(F.avg("f1")).head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** A6: accuracy + confusion counts (actual, predicted, n). */
  def confusion(df: DataFrame, labelCol: String, predCol: String): DataFrame =
    df.groupBy(F.col(labelCol).as("actual"), F.col(predCol).as("predicted"))
      .agg(F.count("*").as("n"))

  def accuracy(df: DataFrame, labelCol: String, predCol: String): Double =
    df.agg(F.avg((F.col(labelCol) === F.col(predCol)).cast("int"))).head().getDouble(0)
}
