package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}

/** Nested-HOF reference for tx4's winnowing fingerprints: the `fps`
  * column of `TextFunctions.fingerprints` as the original formulation
  * computed it, which the specs pin `graft_winnow` (WinnowMinima) to.
  *
  * Same semantics as that formulation: xxhash64 of every character
  * k-gram of `lower(text)` (one gram for a text shorter than k), the
  * minimum of every w-window over those hashes (one window for fewer
  * than w hashes), distinct minima. The hash array is projected once
  * per document; inlined into the per-window lambda it was recomputed
  * for every window, quadratic in the document length. */
object WinnowReference {
  def fingerprints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val body = "lower(text)"
    val hashes =
      s"transform(sequence(1, greatest(length($body) - ${k - 1}, 1)), i -> xxhash64(substring($body, i, $k)))"
    val mins =
      s"transform(sequence(1, greatest(size(h) - ${w - 1}, 1)), j -> array_min(slice(h, j, $w)))"
    docs.select(col("doc_id"), expr(hashes).as("h"))
      .select(col("doc_id"), expr(s"array_distinct($mins)").as("fps"))
  }
}
