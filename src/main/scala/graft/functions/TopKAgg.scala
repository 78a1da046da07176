package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded grouped top-K: the k lexicographically smallest (priority, id)
  * pairs per group, as a typed [[Aggregator]] — the skew-free spelling of
  * "row_number() over (partition by g order by p, id) <= k".
  *
  * Why not the window: a per-group window materializes EVERY row of a
  * group in one sorted task, so a monster group (a giant domain in a
  * per-domain cap — the C4/RefinedWeb curation case) becomes one
  * unsplittable hot task that grows linearly with the corpus (the same
  * class as the digest-keyed window DedupOps.firstOccurrence replaced,
  * measured in NOTES.md, round 8, "De-skew of the digest first-occurrence
  * passes"). This aggregator's buffer is CAPPED at k: the
  * hash-aggregate's map-side partials each carry at most k entries, so the
  * hottest group costs O(partitions · k) at the final merge — independent
  * of the group's row count.
  *
  * Determinism: the (priority, id) order is total whenever `id` is unique,
  * so the kept set is independent of partitioning and arrival order
  * (merge of sorted bounded lists is associative and commutative under a
  * total order — spec-checked against the window form).
  */
object TopKAgg {

  /** One candidate row: `p` the priority (smaller = kept first), `id` the
    * unique row identity and tiebreak. */
  case class Entry(p: Long, id: Long)

  case class Buf(items: List[Entry])

  private def lt(a: Entry, b: Entry): Boolean =
    a.p < b.p || (a.p == b.p && a.id < b.id)

  /** Insert preserving ascending (p, id) order; caller trims to k.
    * Iterative (a recursive cons walk is O(k) stack frames — a large
    * per-group cap would overflow the executor stack mid-aggregate). */
  private def insert(e: Entry, xs: List[Entry]): List[Entry] = {
    val prefix = List.newBuilder[Entry]
    var rest = xs
    while (rest.nonEmpty && lt(rest.head, e)) {
      prefix += rest.head
      rest = rest.tail
    }
    prefix.result() ::: (e :: rest)
  }

  private def mergeSorted(a: List[Entry], b: List[Entry]): List[Entry] = {
    val out = List.newBuilder[Entry]
    var (x, y) = (a, b)
    while (x.nonEmpty && y.nonEmpty) {
      if (lt(y.head, x.head)) { out += y.head; y = y.tail }
      else { out += x.head; x = x.tail }
    }
    out.result() ::: (if (x.nonEmpty) x else y)
  }

  /** The k smallest (p, id) entries per group; finish emits the kept ids
    * in ascending (p, id) order, so `posexplode` downstream recovers the
    * 1-based cap rank. */
  def topK(k: Int): Aggregator[Entry, Buf, Seq[Long]] = {
    require(k > 0, s"top-k bound must be positive, got $k")
    new Aggregator[Entry, Buf, Seq[Long]] {
      override def zero: Buf = Buf(Nil)

      override def reduce(b: Buf, e: Entry): Buf =
        if (b.items.lengthCompare(k) < 0) Buf(insert(e, b.items))
        else if (lt(e, b.items.last)) Buf(insert(e, b.items).take(k))
        else b

      override def merge(a: Buf, b: Buf): Buf =
        Buf(mergeSorted(a.items, b.items).take(k))

      override def finish(b: Buf): Seq[Long] = b.items.map(_.id)

      override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
      override def outputEncoder: Encoder[Seq[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    }
  }
}
