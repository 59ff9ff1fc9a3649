package graft.core

/** Release hooks left from the operator-internal cache registry.
  *
  * Every graft operator now ends the caches it makes before it returns:
  * it either materializes its result as a leaf and unpersists its
  * intermediates ([[Checkpoints.cut]]), or, for `Validation.split`, leaves
  * the one cache to its consumer, `Sinks.writeWithRejects`, which makes
  * and ends it inside its own call. A long-lived session therefore holds
  * no graft cache between calls, and nothing registers here. These two
  * calls stay for callers written against the registry; they touch no
  * cache, the caller's own included.
  */
object InternalCaches {

  /** No-op: no operator leaves a cache to release. */
  def release(): Unit = ()

  /** No-op: no operator leaves a cache to release, in any scope. */
  def release(scope: String): Unit = ()
}
