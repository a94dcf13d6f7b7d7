package graft.quality

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Junk / quality predicates.
  * Thresholds from `/root/reference/data/the_stack/create_stack_snippets.py:188-201`:
  * a chunk is junk when ANY of the 8 conditions holds. Provided both as a
  * Scala predicate over ChunkMetrics (typed pipeline hot path) and as a
  * Column expression over metric columns (SQL-facing / oracle-checkable).
  */
object Rules {

  final val MinChars = 75
  final val MaxChars = 50000
  final val MaxLines = 100
  final val MinLetterRatio = 0.01
  final val MaxLetterRatio = 0.9
  final val MinPunctRatio = 0.01
  final val MaxPunctRatio = 0.4
  final val MaxDigitRatio = 0.5

  def isJunk(m: ChunkMetrics): Boolean =
    m.totalChars < MinChars ||
      m.totalChars > MaxChars ||
      m.lineCount > MaxLines ||
      m.letterRatio < MinLetterRatio ||
      m.letterRatio > MaxLetterRatio ||
      m.punctRatio < MinPunctRatio ||
      m.punctRatio > MaxPunctRatio ||
      m.digitRatio > MaxDigitRatio

  /** Column form over pre-computed metric columns. */
  def isJunkCol(totalChars: Column, lineCount: Column, letterRatio: Column,
                punctRatio: Column, digitRatio: Column): Column =
    (totalChars < MinChars) || (totalChars > MaxChars) ||
      (lineCount > MaxLines) ||
      (letterRatio < MinLetterRatio) || (letterRatio > MaxLetterRatio) ||
      (punctRatio < MinPunctRatio) || (punctRatio > MaxPunctRatio) ||
      (digitRatio > MaxDigitRatio)
}
