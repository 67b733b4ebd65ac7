package graft.io

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** ANSI-safe numbers from the untrusted text tokens of the line-based
  * spectra readers: a malformed token becomes null (the F12 validity gate
  * then sees the spectrum), never a cast error that aborts the scan. */
private[io] object Numbers {
  private val NumRe = "^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$"

  def double(tok: Column): Column = when(tok.rlike(NumRe), tok.cast("double"))

  /** Truncated; null outside the int range. */
  def int(tok: Column): Column =
    when(double(tok).between(Int.MinValue, Int.MaxValue), double(tok).cast("int"))

  /** The 1-based `i`-th of `tokens`; null past the end. */
  def doubleAt(tokens: Column, i: Int): Column = double(try_element_at(tokens, lit(i)))

  /** `masses` and `intensities`: the first two tokens of each peak line. */
  def peaks(lines: Column): Seq[Column] = Seq("masses" -> 1, "intensities" -> 2).map {
    case (name, i) => transform(lines, l => doubleAt(split(trim(l), "[ \\t]+"), i)).as(name)
  }
}
