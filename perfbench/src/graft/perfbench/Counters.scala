package graft.perfbench

/** Engine counters the benchmark reads. They are `private[graft]`, so
  * this object sits inside package `graft`: a renamed or removed counter
  * fails the benchmark's build instead of reading as zero.
  */
object Counters {
  def dirListings: Long = graft.sources.Layout.dirListings.get
}
