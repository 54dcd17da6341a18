package graft.corpus

import scala.util.hashing.MurmurHash3

/** The joined-string form of `Det.h`, kept as the test oracle: the
  * streamed `Det.Key` must hash every part list to exactly this value.
  */
object DetOracle {
  def h(parts: Any*): Long =
    MurmurHash3.stringHash(parts.mkString("\u0000"), Det.Seed).toLong & 0x7fffffffL
}
