package graft.plans

import graft.adapter.SparkMaterializer
import graft.core.{DeployabilityIndex, ModelDag, Snapshot}
import graft.state.{EnvironmentRecord, StateStore}

/** One environment as graft reads it (reference core/environment.py:41: its
  * snapshots plus the naming that places its views) — the only code that says
  * which snapshot a model name means in `env` and where `env`'s view of it
  * lives. `fallback` stands in for the snapshots of an environment with no
  * record yet (plan's `--create-from`); `suffixTarget` and `catalogMapping`
  * are the configured naming the next apply promotes under. */
final class EnvironmentView(state: StateStore, val env: String, suffixTarget: String,
                            catalogMapping: Seq[(String, String)],
                            fallback: Option[String] = None) {
  val record: Option[EnvironmentRecord] = state.getEnvironment(env)
  private val source = record.orElse(fallback.flatMap(state.getEnvironment))
  private val resolved = scala.collection.mutable.HashMap[String, Option[Snapshot]]()

  /** The snapshot `name` means here, resolved once: by the record's identifier
    * (several snapshots may share a version), then by its version. */
  def snapshot(name: String): Option[Snapshot] = resolved.getOrElseUpdate(name,
    source.flatMap(r => r.identifiers.get(name).flatMap(state.getSnapshotById(name, _))
      .orElse(r.snapshots.get(name).flatMap(state.getSnapshot(name, _)))))

  /** Every snapshot the record holds. */
  lazy val snapshots: Seq[Snapshot] = source.getOrElse(
    throw new IllegalStateException(s"environment $env not planned"))
    .snapshots.keys.toSeq.flatMap(snapshot)

  lazy val dag: ModelDag = ModelDag(snapshots.map(_.model))

  /** Which snapshots use their `__dev` preview table (DeployabilityIndex). */
  lazy val devFlags: Map[String, Boolean] = {
    val index = DeployabilityIndex.of(snapshots, dag)
    snapshots.map(s => s.model.name -> (env != "prod" && !index.isDeployable(s))).toMap
  }

  /** The catalog the next apply promotes into. */
  lazy val targetCatalog: Option[String] =
    SparkMaterializer.envCatalog(env, suffixTarget, catalogMapping)

  /** `(catalog, db, view)` of the view of model `name`: where the record
    * placed it, or where the next apply will for an unrecorded environment. */
  def location(name: String): (Option[String], String, String) =
    record.fold(targetLocation(name))(r =>
      EnvironmentView.location(name, env, r.suffixTarget, r.catalog))

  def targetLocation(name: String): (Option[String], String, String) =
    EnvironmentView.location(name, env, suffixTarget, targetCatalog)
}

object EnvironmentView {
  /** The one naming rule ([[SparkMaterializer.envTarget]]) under a suffix
    * target and a resolved catalog. */
  def location(name: String, env: String, suffixTarget: String,
               catalog: Option[String]): (Option[String], String, String) = {
    val parts = name.split('.')
    val schema = parts.dropRight(1).mkString(".") match { case "" => "default"; case s => s }
    val (_, db, view) = SparkMaterializer.envTarget(schema, parts.last, env, suffixTarget)
    (catalog, db, view)
  }

  /** A location as a backquoted SQL name. */
  def quoted(location: (Option[String], String, String)): String = location match {
    case (catalog, db, view) => catalog.fold("")(c => s"`$c`.") + s"`$db`.`$view`"
  }
}
