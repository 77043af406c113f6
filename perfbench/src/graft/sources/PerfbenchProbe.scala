package graft.sources

/** Read-only view of the graftjson source's planning counters for the
  * benchmark (the counters are package-private to `graft.sources`). */
object PerfbenchProbe {
  def filesWalked: Long = JsonDocSource.filesWalked.get()
  def zoneSkippedFiles: Long = JsonDocSource.zoneSkippedFiles.get()
}
