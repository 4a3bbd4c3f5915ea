package perfbench

/** Output checks: each compares what the program returned with what an
  * [[Oracle]] computation expects, and says how they differ. Pure
  * functions over plain collections, so `ChecksSpec` can feed them
  * deliberately wrong answers. */
final case class Check(name: String, ok: Boolean, detail: String)

object Checks {

  private def diff[K](expected: Map[K, Long], got: Map[K, Long]): Seq[String] =
    (expected.keySet ++ got.keySet).toSeq
      .filter(k => expected.getOrElse(k, 0L) != got.getOrElse(k, 0L))
      .take(3)
      .map(k => s"$k: expected ${expected.getOrElse(k, 0L)}, got ${got.getOrElse(k, 0L)}")

  /** Keyed counts must match exactly (absent key = 0). */
  def counts[K](name: String, expected: Map[K, Long], got: Map[K, Long]): Check = {
    val d = diff(expected, got)
    Check(name, d.isEmpty,
      if (d.isEmpty) s"${expected.size} keys, ${expected.values.sum} in total"
      else d.mkString("; "))
  }

  /** Two collections of rows must be equal as multisets. */
  def rows[R](name: String, expected: Iterable[R], got: Iterable[R]): Check =
    counts(name, expected.groupBy(identity).map { case (k, v) => k -> v.size.toLong },
      got.groupBy(identity).map { case (k, v) => k -> v.size.toLong })

  /** A scalar must equal its closed form. */
  def equal(name: String, expected: Long, got: Long): Check =
    Check(name, expected == got, s"expected $expected, got $got")

  /** Every pyramid level must hold `n` docs in total and equal the
    * grouping of the oracle's parents at that level. */
  def pyramid(name: String, n: Long, expected: Map[Int, Map[Long, Long]],
              got: Map[Int, Map[Long, Long]]): Check = {
    val bad = expected.keys.toSeq.sorted.flatMap { r =>
      val g = got.getOrElse(r, Map.empty)
      val sum = g.values.sum
      (if (sum != n) Seq(s"res $r sums to $sum, not $n") else Nil) ++
        diff(expected(r), g).map(d => s"res $r tile $d")
    }
    Check(name, bad.isEmpty,
      if (bad.isEmpty) expected.toSeq.sortBy(-_._1).map { case (r, m) => s"res $r: ${m.size} tiles" }.mkString(", ")
      else bad.take(3).mkString("; "))
  }

  /** Top-k distances per query must match the brute force within `tolM`
    * metres (the two haversine forms differ in rounding only). */
  def distances(name: String, expected: Map[Long, Array[Double]],
                got: Map[Long, Array[Double]], tolM: Double): Check = {
    val bad = expected.toSeq.sortBy(_._1).flatMap { case (q, e) =>
      val g = got.getOrElse(q, Array.empty[Double]).sorted
      if (g.length != e.length) Seq(s"query $q: ${g.length} results, expected ${e.length}")
      else e.indices.collectFirst {
        case i if Math.abs(e(i) - g(i)) > tolM =>
          s"query $q rank ${i + 1}: expected ${e(i)} m, got ${g(i)} m"
      }.toSeq
    }
    Check(name, bad.isEmpty,
      if (bad.isEmpty) s"${expected.size} queries within $tolM m" else bad.take(3).mkString("; "))
  }
}
