package graft

/** Query-registry maps that cannot silently shadow an entry. `Map(...)`
  * and `++` keep the last of two equal keys, which once hid three
  * queries and their oracles from every run; every module's `queries`
  * and `oracleSql` literal and the [[SparkEntry]] merge are built here
  * instead, so a repeated key fails at first access.
  */
object Registry {

  /** The map of `entries`; throws on a repeated key. */
  def of[V](entries: (String, V)*): Map[String, V] = {
    val m = entries.toMap
    if (m.size != entries.size) {
      val dups = entries.map(_._1).diff(m.keys.toSeq).distinct.sorted
      throw new IllegalArgumentException(s"duplicate registry key(s): ${dups.mkString(", ")}")
    }
    m
  }

  /** The union of `parts`; throws on a key present in more than one. */
  def merge[V](parts: Map[String, V]*): Map[String, V] = of(parts.flatten: _*)
}
