package graft.ops

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Walsh–Hadamard pre-rotation — the OPQ-style energy-spreading move for
  * product quantization, in the one form that stays EXACTLY replayable
  * cross-engine: `H_{ij} = (-1)^popcount(i AND j)` (entries ±1, no
  * normalization), so the rotated components of an integer vector are
  * integers, `H(Hx) = n·x`, and `‖Hx‖² = n·‖x‖²` — an orthogonal map up
  * to the uniform factor n, which scales every pairwise L2 distance by n
  * and leaves every kNN ranking unchanged.
  *
  * Why it matters for PQ: ADC splits the vector into m independent
  * subspaces; when energy concentrates in a few leading dims (trained
  * Matryoshka embeddings, PCA-style layouts), one subquantizer carries
  * all the signal and the codes-only scan collapses. The rotation
  * spreads every input dim across ALL output dims (each output is a
  * ±-signed sum of the whole vector), rebalancing subspace energy with
  * zero trained parameters — the deterministic core of "random rotation
  * before PQ" (Jégou et al.; OPQ's R fixed at H).
  *
  * Scale shape: a narrow per-row map (O(d log d) butterflies, no shuffle,
  * no join); the DuckDB oracle replays it as a d×d bit_count sum. */
object Rotation {

  /** Unnormalized fast Walsh–Hadamard transform (natural ordering):
    * returns `y` with `y_i = Σ_j (-1)^popcount(i AND j) · x_j`. Length
    * must be a power of two. Pure integer arithmetic when the input is
    * integer-valued (|y| ≤ n·max|x| — no precision loss in Double for
    * any realistic count vector). */
  def fwht(x: Array[Double]): Array[Double] = {
    val n = x.length
    require(n > 0 && (n & (n - 1)) == 0,
      s"FWHT needs a power-of-two length, got $n")
    val y = x.clone()
    var len = 1
    while (len < n) {
      var i = 0
      while (i < n) {
        var j = i
        while (j < i + len) {
          val a = y(j); val b = y(j + len)
          y(j) = a + b; y(j + len) = a - b
          j += 1
        }
        i += 2 * len
      }
      len <<= 1
    }
    y
  }

  /** FWHT over a float embedding column (ANN-family input form). */
  def rotateUdf: UserDefinedFunction = udf { (emb: Seq[Float]) =>
    fwht(emb.map(_.toDouble).toArray).map(_.toFloat)
  }
}
