package graft

import graft.link.Linker

/** Runs a block with [[Linker.MaxDriverAliasPairs]] at 0, so the linker,
 *  GraphOps.connectedComponentsStar, SuffixOps.suffixRanks /
 *  longestRepeats and NearDup.dedupVerdicts / ngramJaccardStar take
 *  their distributed paths on small fixtures; the gate is restored
 *  afterwards. */
object DriverGate {
  def closed[T](body: => T): T = {
    val saved = Linker.MaxDriverAliasPairs
    try { Linker.MaxDriverAliasPairs = 0L; body }
    finally Linker.MaxDriverAliasPairs = saved
  }
}
