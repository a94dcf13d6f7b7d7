package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.Dedup.mix64
import graft.pipeline.Transcripts

/** Seeded document tables. Every row is a pure function of (seed, id), so
  * the same seed gives the same table at any parallelism. */
object Docs {
  /** Originals in the corpus_prep table; exact and near copies come on top. */
  val CorpusBase = 400L
  /** Every BenchEvery-th original leaks a span into the decontamination table. */
  val BenchEvery = 20L

  private def rnd(seed: Long, id: Long, salt: Long): Long =
    mix64(seed ^ (id * 0x9e3779b97f4a7c15L) ^ (salt * 0xc2b2ae3d27d4eb4fL)) & Long.MaxValue

  /** Punctuated multi-line text in one of eight languages; one original in
    * forty is a digit flood the quality rules drop. */
  private def prose(seed: Long, id: Long): String = {
    if (id % 40 == 7) return (0 until 120).map(i => rnd(seed, id, 200 + i) % 10).mkString
    val pool = Transcripts.poolOf((rnd(seed, id, 1) % 8).toInt)
    val n = 30 + (rnd(seed, id, 2) % 120).toInt
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(if (i % 12 == 11) '\n' else ' ')
      sb.append(pool((rnd(seed, id, 300 + i) % pool.length).toInt))
      if (i % 9 == 8) sb.append('.') else if (i % 13 == 12) sb.append(',')
      i += 1
    }
    sb.append('.').toString
  }

  /** The corpus_prep input: `base` originals (ids below `base`), then
    * base/10 exact copies and base/10 near copies (one word appended) of
    * seeded originals, with ids above `base`. */
  def corpus(spark: SparkSession, seed: Long, base: Long, parts: Int): DataFrame = {
    import spark.implicits._
    val copies = base / 10
    spark.range(0, base + 2 * copies, 1, parts).map { id =>
      val text =
        if (id < base) prose(seed, id)
        else {
          val of = rnd(seed, id, 9) % base
          if (id < base + copies) prose(seed, of) else prose(seed, of) + " again."
        }
      (id, text, s"shard${id % 8}", s"l${rnd(seed, id, 1) % 8}")
    }.toDF("doc_id", "text", "source", "lang")
  }
}
