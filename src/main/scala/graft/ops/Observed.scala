package graft.ops

/** Typed read-back of an `Observation` metric. `collect_set` over an
  * int column comes back as a Scala `Seq` today; this accepts any
  * `Seq` or `Array` of numbers and fails with a named error on any
  * other shape, instead of an unchecked cast that would surface as a
  * ClassCastException far from the observe call. */
private[graft] object Observed {
  def ints(value: Any, metric: String): Seq[Int] = {
    def int(x: Any): Int = x match {
      case n: Number => n.intValue
      case other => throw new IllegalStateException(
        s"observed metric '$metric': element $other is not a number")
    }
    value match {
      case s: scala.collection.Seq[_] => s.map(int).toSeq
      case a: Array[_] => a.toSeq.map(int)
      case other => throw new IllegalStateException(
        s"observed metric '$metric': expected a Seq or Array of numbers, " +
          s"got ${if (other == null) "null" else other.getClass.getName}")
    }
  }
}
