package graft
package gates

/** The gate registry: every gate, grouped by the family object that
  * declares it. This is the one place that names the families.
  */
object Gates {

  val all: Seq[(String, Seq[Gate])] = Seq(
    "tpch" -> TpchGates.gates,
    "events" -> EventGates.gates,
    "fx" -> FxGates.gates,
    "stream" -> StreamGates.gates,
    "dedup" -> DedupGates.gates,
    "text" -> TextGates.gates,
    "ann" -> AnnGates.gates,
    "media" -> MediaGates.gates,
    "layout" -> LayoutGates.gates)

  /** Every gate by name. */
  lazy val byName: Map[String, Gate] = index(all.flatMap(_._2))

  /** Indexes `gates` by name, rejecting a name declared more than once —
    * in one family or in two.
    */
  def index(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty,
      s"gate names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }
}
