package graft.engine

/** Test-side reads of engine-private counters. */
object EngineProbe {
  /** Files the store's driver reads have opened so far. */
  def driverFilesRead(db: UnitDb): Long = db.driverFilesRead.get

  /** Make the `k`-th file write of `db`'s next sync fail. */
  def failFileWrite(db: UnitDb, k: Int): Unit = db.failFileWrite.set(k)
}
