package graft

/** The `graft-atomic` relation's last scan verdict, (files kept, files
  * committed), is package-private to the engine; the benchmark reads it
  * through this bridge.
  */
object PerfbenchAccess {
  def lastScan(sink: String): (Int, Int) =
    sources.GraftAtomicRelation.lastScanFor(sink)
}
