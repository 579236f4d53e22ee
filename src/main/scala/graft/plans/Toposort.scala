package graft.plans

import scala.collection.mutable

/** Dependency-ordered execution schedule for a [[TransportPlan]].
  *
  * The reference resolves dependencies by recursing into
  * `transporter()` mid-row (refer/refers with `search_source ==
  * "target"` transport the referenced table first, src/DBT.php:183-194;
  * `transport_after` likewise, src/DBT.php:125-127; middle tables
  * resolve both halves, src/DBT.php:456-474), with a memo
  * (`finished`, src/DBT.php:119-122) and a recursion cap
  * (`safety = 100`, src/DBT.php:56, 114-118). Seed tables — no refer
  * and no middle — run first (src/DBT.php:102-105, 571-599).
  *
  * Spark-first this collapses to one topological sort plus the
  * dependency edges: each table's own plan parallelizes internally,
  * [[graft.operators.Transportor.runAndWrite]] hands the
  * [[dependencies]] to [[graft.operators.Stage.parallel]], which starts
  * a table as soon as they are written, and the recursion cap becomes
  * a proper cycle check. Declaration order is the tie-break, which
  * also reproduces the reference's seed-first behavior (a seed table
  * has no outgoing dependency edges, so it is never delayed).
  */
object Toposort {

  /** Dependencies of one table map: names of plan tables that must be
    * transported first. Names not filled by the plan (pre-seeded /
    * external target tables) carry no edge. */
  def dependencies(plan: TransportPlan, map: TableMap): Seq[String] = {
    // keysFor, not keyFor: a lookup against a multi-alias target table
    // depends on EVERY entry that appends into it.
    (map.transportAfter.toSeq ++ TransportPlan.targetLookups(map))
      .flatMap(plan.keysFor)
      .distinct
  }

  /** Full execution order (every plan key exactly once, dependencies
    * first, declaration order as tie-break). Throws on cycles. */
  def apply(plan: TransportPlan): Seq[String] =
    order(plan.keys)(k => dependencies(plan, plan.byKey(k)))

  /** Depth-first topological order of `nodes`: each node after every
    * node `deps` names for it, the order of `nodes` as tie-break.
    * Throws on cycles. */
  def order(nodes: Seq[String])(deps: String => Seq[String]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val done = mutable.Set.empty[String]
    val inProgress = mutable.Set.empty[String]

    def visit(key: String, path: List[String]): Unit = {
      if (done(key)) return
      if (inProgress(key))
        throw new IllegalStateException(
          s"dependency cycle: ${(key :: path).reverse.mkString(" -> ")} " +
            "(the reference would loop until safety=100, src/DBT.php:114-118)")
      inProgress += key
      deps(key).foreach(d => visit(d, key :: path))
      inProgress -= key
      done += key
      out += key
    }

    nodes.foreach(k => visit(k, Nil))
    out.toSeq
  }
}
