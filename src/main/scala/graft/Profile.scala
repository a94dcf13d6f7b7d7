package graft

import graft.langid.{CharLM, NGramLangId}
import graft.pipeline.{Transcripts, TranscriptPipeline}

/** Dev tool: single-thread cost breakdown of the pipeline's per-row
  * kernels (normalize / scrub / langid / perplexity / metrics), plus the
  * compiled SQL-path char-class counters (`charclass`: the five
  * `TextFunctions` counters over one row's UTF8String), to know where the
  * next optimization belongs.
  *
  * usage: sbt "runMain graft.Profile [nRows]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val nLangs = 97
    val spark = GraftSession.local(4, "graft-profile")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val labeled = Transcripts.generate(spark, 4000, seed = 7L, hotFactor = 1, nLangs = nLangs)
      .map(t => (Transcripts.truthLang(7L, t.conv_id, nLangs), t.text))
      .toDF("lang_true", "text")
    val nm = NGramLangId.train(spark, labeled, "lang_true", "text")
    val lm = CharLM.train(spark, labeled, "lang_true", "text")
    val rows = Transcripts.generate(spark, n / 14 + 1, seed = 42L, nLangs = nLangs)
      .take(n)
    spark.stop()

    def bench[A](name: String, xs: Seq[A])(f: A => Unit): Unit = {
      // warm
      xs.iterator.take(n / 10).foreach(f)
      val t0 = System.nanoTime()
      xs.foreach(f)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$name%-12s ${xs.length / sec}%,.0f rows/s  (${sec * 1e9 / xs.length}%,.0f ns/row)")
    }

    val texts = rows.map(_.text).toSeq
    val scorer = new TranscriptPipeline.TurnScorer(nm, lm)
    bench("normalize", texts)(s => graft.text.Normalize.newlines(s))
    bench("scrub_pii", texts)(s => graft.text.Scrub.scrubPiiCounting(s))
    bench("langid", texts)(s => nm.predictWithConfLower(s.toLowerCase))
    bench("perplexity", texts)(s => lm.perplexityLower(s.toLowerCase, 0))
    bench("metrics", texts)(s => graft.quality.Metrics.of(s))
    bench("lowercase", texts)(s => s.toLowerCase)
    val utf8 = texts.map(org.apache.spark.unsafe.types.UTF8String.fromString)
    var sink = 0L
    bench("charclass", utf8) { u =>
      import graft.plans.AsciiClassCount._
      sink += count(u, Letter, false) + count(u, Digit, false) + count(u, Space, false) +
        count(u, Letter | Digit | Space, true) + count(u, Newline, false)
    }
    if (sink < 0) println(sink)
    val t0 = System.nanoTime()
    rows.foreach(t => scorer.score(t, 0L))
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"${"FULL ROW"}%-12s ${rows.length / sec}%,.0f rows/s  (${sec * 1e9 / rows.length}%,.0f ns/row)")
  }
}
