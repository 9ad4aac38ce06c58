package perfbench

import Inputs.Mutation

/** Expected outputs, computed from the input-generation rules alone — no
  * Spark, no engine code. */
object Oracle {

  // the error keys the engine's violation rows carry for the four
  // web-pages leaves
  val KeyUrl = ":re"
  val KeyTs = ":time/instant"
  val KeyText = ":string"
  val KeyLang = ":enum"

  final case class Counts(rows: Long, valid: Long, byKey: Map[String, Long]) {
    def violations: Long = byKey.values.sum
  }

  private def below(x: Long, mr: (Long, Long)): Long =
    if (x <= mr._2) 0L else (x - 1 - mr._2) / mr._1 + 1

  /** Ids in [lo, hi) with id % m == r. */
  def countRes(lo: Long, hi: Long, mr: (Long, Long)): Long =
    below(hi, mr) - below(lo, mr)

  /** Closed form for `Inputs.pages(base, n)`: the four injection residues
    * never meet on one id (13, 17, 23 and 31 are pairwise distinct modulo
    * every gcd of 2000, 1000, 500 and 400), so each bad row has exactly
    * one violation. */
  def pages(base: Long, n: Long): Counts = {
    val hi = base + n
    val byKey = Map(
      KeyUrl -> countRes(base, hi, Inputs.BadUrl),
      KeyTs -> countRes(base, hi, Inputs.BadTs),
      KeyText -> countRes(base, hi, Inputs.EmptyText),
      KeyLang -> countRes(base, hi, Inputs.BadLang))
    Counts(n, n - byKey.values.sum, byKey)
  }

  private def res(id: Long, mr: (Long, Long)) = id % mr._1 == mr._2

  // symbolic payload of row i in state k: text -1 empty, 0 base, k edited;
  // lang 1 "xx", 0 base
  private def textOf(base: Long, i: Long, k: Long): Long =
    if (Mutation.emptied(i, k)) -1L
    else if (Mutation.edited(i, k)) k
    else if (res(base + i, Inputs.EmptyText)) -1L
    else 0L
  private def langOf(base: Long, i: Long, k: Long): Int =
    if (Mutation.langXx(i, k) || res(base + i, Inputs.BadLang)) 1 else 0

  /** Verdicts of snapshot state k (state 0 is the base table), by a loop
    * over every id. */
  def state(base: Long, n: Long, k: Long): Counts = {
    var rows, valid, url, ts, text, lang = 0L
    var i = 0L
    while (i < n) {
      if (!Mutation.dropped(i, k)) {
        rows += 1
        val bu = res(base + i, Inputs.BadUrl)
        val bt = res(base + i, Inputs.BadTs)
        val be = textOf(base, i, k) == -1L
        val bl = langOf(base, i, k) == 1
        if (bu) url += 1
        if (bt) ts += 1
        if (be) text += 1
        if (bl) lang += 1
        if (!(bu || bt || be || bl)) valid += 1
      }
      i += 1
    }
    Counts(rows, valid,
      Map(KeyUrl -> url, KeyTs -> ts, KeyText -> text, KeyLang -> lang))
  }

  /** added / removed / modified rows from state k-1 to state k, with the
    * diff payload being (text, lang). */
  def diff(base: Long, n: Long, k: Long): Map[String, Long] = {
    var added, removed, modified = 0L
    var i = 0L
    while (i < n) {
      val was = !Mutation.dropped(i, k - 1)
      val is = !Mutation.dropped(i, k)
      if (is && !was) added += 1
      else if (was && !is) removed += 1
      else if (is && (textOf(base, i, k) != textOf(base, i, k - 1) ||
          langOf(base, i, k) != langOf(base, i, k - 1))) modified += 1
      i += 1
    }
    Map("added" -> added, "removed" -> removed, "modified" -> modified)
  }

  /** The expected dedup structure of `Inputs.corpus(base, n)`, n a
    * multiple of 5: every group g of 5 ids is one exact-duplicate group,
    * one cluster with id 5g, and C(5,2) = 10 verified pairs. */
  def groupMembers(base: Long, n: Long): Iterator[Seq[Long]] =
    (0L until n / 5).iterator.map(g => (0L until 5L).map(base + 5 * g + _))

  /** Exact groups as (dup_cnt, sorted member ids). */
  def exactGroupsOk(base: Long, n: Long, got: Seq[(Long, Seq[Long])]): Boolean =
    got.size == n / 5 && got.map(_._2).sortBy(_.head).iterator
      .zip(groupMembers(base, n)).forall { case (a, b) => a == b } &&
      got.forall(_._1 == 5L)

  /** Clusters as (cluster_id, sz, members csv). */
  def clustersOk(base: Long, n: Long, got: Seq[(Long, Long, String)]): Boolean =
    got.size == n / 5 && got.sortBy(_._1).iterator.zip(groupMembers(base, n))
      .forall { case ((id, sz, members), g) =>
        id == g.head && sz == 5L && members == g.mkString(",") }

  /** Verified pairs as (id_a, id_b): exactly the 10 in-group pairs of every
    * group. */
  def pairsOk(base: Long, n: Long, got: Seq[(Long, Long)]): Boolean =
    got.size == n / 5 * 10 && got.forall { case (a, b) =>
      a < b && a >= base && b < base + n && (a - base) / 5 == (b - base) / 5 }

  /** Self-check, run before every benchmark run: the closed form agrees
    * with the id loop on windows that cut every injection period
    * mid-way, and each check rejects a deliberately corrupted result.
    * Returns the names of the failed checks. */
  def selfCheck(): Seq[String] = {
    val windows = Seq((0L, 123457L), (Inputs.windowOf(7), 200003L),
      (Inputs.windowOf(99999), 1999L))
    val closedForm = windows.filterNot { case (b, n) => pages(b, n) == state(b, n, 0) }
      .map { case (b, n) => s"closed form != loop at [$b, ${b + n})" }
    val p = pages(0, 100000)
    val corrupt = p.copy(byKey = p.byKey.updated(KeyText, p.byKey(KeyText) + 1))
    val (b, n) = (Inputs.windowOf(3), 1000L)
    val groups = groupMembers(b, n).map(g => (5L, g)).toSeq
    val clusters = groupMembers(b, n).map(g => (g.head, 5L, g.mkString(","))).toSeq
    val pairs = groupMembers(b, n).flatMap(g => g.combinations(2).map(c => (c(0), c(1)))).toSeq
    val accepted = Seq(
      "exact groups" -> exactGroupsOk(b, n, groups),
      "clusters" -> clustersOk(b, n, clusters),
      "pairs" -> pairsOk(b, n, pairs))
    val rejected = Seq(
      "corrupted verdict counts" -> (p == corrupt),
      "corrupted exact groups" ->
        exactGroupsOk(b, n, groups.updated(3, (5L, Seq(b + 15, b + 16, b + 17, b + 18, b + 20)))),
      "corrupted clusters" ->
        clustersOk(b, n, clusters.updated(0, (b, 5L, s"$b,${b + 1},${b + 2},${b + 3},${b + 5}"))),
      "corrupted pairs" -> pairsOk(b, n, pairs.updated(0, (b + 4, b + 5))))
    closedForm ++ accepted.collect { case (k, false) => s"$k: true result rejected" } ++
      rejected.collect { case (k, true) => s"$k: corrupted result accepted" }
  }
}
