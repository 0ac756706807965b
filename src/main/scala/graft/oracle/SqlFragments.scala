package graft
package oracle

/** DuckDB SQL fragments shared by the vector oracles: ordered dot-product
  * folds (`list_reduce` over `range(1, n + 1)` == the engine's native dot
  * loop), cosines, the q6 PCA projection, and the exported-model literals.
  * Lists are 1-based; `n` is the list length. */
private[oracle] object SqlFragments {

  private def fold(n: Int, term: String): String =
    s"list_reduce(list_transform(range(1, ${n + 1}), i -> $term), (x, y) -> x + y)"

  /** Σ a[i]·b[i] over two DOUBLE lists. */
  def dot(a: String, b: String, n: Int): String = fold(n, s"$a[i] * $b[i]")

  /** [[dot]] over FLOAT lists, each element cast to DOUBLE first. */
  def dotF(a: String, b: String, n: Int): String =
    fold(n, s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)")

  /** Unrounded cosine of two DOUBLE lists. */
  def cos(a: String, b: String, n: Int): String =
    s"${dot(a, b, n)} / (sqrt(${dot(a, a, n)}) * sqrt(${dot(b, b, n)}))"

  /** [[cos]] rounded to 6 places. */
  def cosR(a: String, b: String, n: Int): String = s"round(${cos(a, b, n)}, 6)"

  /** Cosine of two FLOAT lists, each element cast to DOUBLE first, rounded
    * to 6 places. */
  def cosF(a: String, b: String, n: Int): String =
    s"round(${dotF(a, b, n)} / (sqrt(${dotF(a, a, n)}) * sqrt(${dotF(b, b, n)})), 6)"

  /** q6-rounded projection of the `dim`-list `emb` onto component `t`
    * (1-based) of the rotation in CTEs `meanCte(m)` and `compsCte(c)`:
    * ascending-dimension fold, 0-init == first-term init exactly. `emb` is
    * cast to DOUBLE first unless `cast` is false. */
  def coord(emb: String, t: String, dim: Int, meanCte: String = "mm",
      compsCte: String = "cc", cast: Boolean = true): String = {
    val x = if (cast) s"CAST($emb[i] AS DOUBLE)" else s"$emb[i]"
    s"""floor(list_reduce(list_transform(range(1, ${dim + 1}),
       |        i -> ($x - $meanCte.m[i]) * $compsCte.c[$t][i]),
       |      (x, y) -> x + y) * 1000000.0 + 0.5) / 1000000.0""".stripMargin
  }

  /** The CTEs `meanCte(m)` and `compsCte(c)` holding an exported PCA
    * rotation as DOUBLE[] literals (`Double.toString` round-trips). */
  def rotation(mean: Array[Double], comps: Array[Array[Double]],
      meanCte: String = "mm", compsCte: String = "cc"): String =
    s"$meanCte(m) AS (SELECT ${mean.mkString("[", ", ", "]")}::DOUBLE[]), " +
      s"$compsCte(c) AS (SELECT ${comps.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")}::DOUBLE[][])"

  /** VALUES rows `(c, nsq, w)` of exported centroids. */
  def centroidRows(cs: Array[Array[Double]]): String =
    cs.zipWithIndex.map { case (w, i) => s"($i, ${vecRow(w)})" }.mkString(", ")

  /** VALUES rows `(j, c, nsq, w)` of exported per-subspace codebooks. */
  def codebookRows(books: Array[Array[Array[Double]]]): String =
    (for (j <- books.indices; c <- books(j).indices)
      yield s"($j, $c, ${vecRow(books(j)(c))})").mkString(", ")

  private def vecRow(w: Array[Double]): String =
    s"CAST(${w.map(x => x * x).sum} AS DOUBLE), [${w.mkString(", ")}]::DOUBLE[]"
}
