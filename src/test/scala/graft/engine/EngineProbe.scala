package graft.engine

import graft.functions.{TombstoneKeys, TombstoneSet}
import graft.model.Topic

/** Test-side reads of engine-private counters and rules. */
object EngineProbe {
  /** Files the store's driver reads have opened so far. */
  def driverFilesRead(db: UnitDb): Long = db.driverFilesRead.get

  /** Files the store's driver reads have merged into their answers so far. */
  def driverFilesMerged(db: UnitDb): Long = db.driverFilesMerged.get

  /** The absolute paths of the data files the store's topic index holds
    * an entry for. */
  def indexedFiles(db: UnitDb): Set[String] = db.indexedFiles.map(_.toUri.getPath)

  /** Make the `k`-th file write of `db`'s next sync fail. */
  def failFileWrite(db: UnitDb, k: Int): Unit = db.failFileWrite.set(k)

  /** The data columns the driver read takes from a file for each branch of
    * a `get` on `pattern`, in read order. */
  def branchColumns(pattern: String): Seq[Seq[String]] =
    new GetRule(1L, Topic.parse(pattern), 0L, None, 100,
      new TombstoneSet(Nil, TombstoneKeys.empty, 0L))
      .branches.map(DriverRead.requiredColumns(_).fieldNames.toSeq)
}
