package graft.functions

/** The ONE content-digest kernel behind plan rendering of expression
  * state (codebooks, centroid matrices, delta tables, merge tables):
  * SHA-256 of the caller's serialization, truncated to 64 bits, hex.
  * Serialization stays local to each state type (that is where the
  * ambiguity hazards live — see each caller); the digest width/encoding
  * lives here so the operators can never silently diverge.
  *
  * The digest only labels a plan string; it names nothing that resolves.
  * The state itself rides inside the bound expression, so two kernels
  * with equal digests still run with their own state.
  */
object Digests {
  def content(serialized: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(serialized.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
}
