package graft.core

/** The model dependency graph (reference sqlmesh/utils/dag.py `DAG`, which
  * the context, the plan builder and the scheduler share). Built from each
  * model's `references`, read once per build; an edge is a reference to
  * another name inside the set the graph was built from — references
  * outside it (externals, unloaded models) and self-references are not
  * edges. Every walk that orders models or closes over their dependencies
  * goes through here. */
final class ModelDag private (parentsOf: Map[String, Set[String]]) {

  private lazy val childrenOf: Map[String, Set[String]] =
    parentsOf.toSeq.flatMap { case (n, ps) => ps.map(_ -> n) }
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).toSet }

  /** The names this graph was built over. */
  def names: Set[String] = parentsOf.keySet

  /** Direct upstreams of `name` inside the graph. */
  def parents(name: String): Set[String] = parentsOf.getOrElse(name, Set.empty)

  /** Kahn levels: every name appears one level past its deepest parent,
    * names sorted within a level, so `levels.flatten` is a parents-first
    * order and each level's members are independent of one another. */
  lazy val levels: Seq[Seq[String]] = {
    val indeg = scala.collection.mutable.Map(parentsOf.view.mapValues(_.size).toSeq: _*)
    val out = Seq.newBuilder[Seq[String]]
    var ready = parentsOf.collect { case (n, ps) if ps.isEmpty => n }.toSeq.sorted
    while (ready.nonEmpty) {
      out += ready
      ready = ready.flatMap(n => childrenOf.getOrElse(n, Set.empty)).filter { c =>
        indeg(c) -= 1; indeg(c) == 0
      }.sorted
    }
    val stuck = indeg.collect { case (n, d) if d > 0 => n }.toSeq.sorted
    require(stuck.isEmpty, s"cycle among models: ${stuck.mkString(", ")}")
    out.result()
  }

  /** `seeds` and everything they read from, transitively. */
  def upstream(seeds: Set[String]): Set[String] = closure(seeds, parentsOf)

  /** `seeds` and everything that reads from them, transitively. */
  def downstream(seeds: Set[String]): Set[String] = closure(seeds, childrenOf)

  private def closure(seeds: Set[String], edges: Map[String, Set[String]]): Set[String] = {
    val seen = scala.collection.mutable.Set[String]() ++= seeds
    val todo = scala.collection.mutable.Stack[String]() ++= seeds
    while (todo.nonEmpty)
      edges.getOrElse(todo.pop(), Set.empty).foreach(n => if (seen.add(n)) todo.push(n))
    seen.toSet
  }
}

object ModelDag {
  /** The graph over `models`. */
  def apply(models: Iterable[Model]): ModelDag =
    of(models.map(m => m.name -> m.references).toMap)

  /** The graph over `models` plus every name they reference, the names
    * outside the set (externals) as parentless nodes — what a lineage
    * drawing shows. */
  def withExternals(models: Iterable[Model]): ModelDag = {
    val refs = models.map(m => m.name -> m.references).toMap
    of(refs.values.flatten.map(_ -> Set.empty[String]).toMap ++ refs)
  }

  /** The graph over `seeds` and every model they read from, transitively
    * (`model` finds a name's model; a name it lacks is no node). */
  def upstreamOf(seeds: Iterable[String], model: String => Option[Model]): ModelDag = {
    val refs = scala.collection.mutable.Map[String, Set[String]]()
    val todo = scala.collection.mutable.Stack[String]() ++= seeds
    while (todo.nonEmpty) {
      val n = todo.pop()
      if (!refs.contains(n)) model(n).foreach { m => refs(n) = m.references; todo ++= refs(n) }
    }
    of(refs.toMap)
  }

  private def of(refs: Map[String, Set[String]]): ModelDag =
    new ModelDag(refs.map { case (n, rs) => n -> rs.filter(r => r != n && refs.contains(r)) })
}
