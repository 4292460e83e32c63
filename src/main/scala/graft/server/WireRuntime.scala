package graft.server

import java.util.concurrent.locks.ReentrantReadWriteLock

import graft.GraftEngine

/** The serving-side state of one engine's wire front-end
  * ([[ZestWireServer]]), kept apart from the server so that a caller can
  * hold its lock:
  *
  *  - ONE reader-writer lock over the engine's buffers and id sequence,
  *    which every connection thread mutates; [[WireMain]] takes its
  *    write lock to flush at shutdown;
  *  - ONE observer registry: each subscription registers a
  *    [[WireRuntime.Sink]] that frames its pushes onto the owning
  *    connection; delivery and the expiry sweep route through it.
  *
  * The registry also carries notification-callback idents
  * ([[graft.GraftEngine.notifyRegister]]): a `NOTIFY` response routes to
  * the connection that REGISTERED the callback path, keyed by that path
  * (the reference's ROUTER-identity role, `notify.re:5-17`).
  *
  * A server constructed without an explicit runtime gets a private one.
  */
final class WireRuntime(val engine: GraftEngine) {

  /** GETs share the read lock; mutations and the expiry sweep take the
    * write lock. Fan-out is computed and enqueued under whichever lock
    * the request holds, so a sweep's 163 can never interleave between a
    * subscription's match and its push (write excludes read and write).
    */
  val rw = new ReentrantReadWriteLock()

  /** One subscription's (or callback registration's) delivery endpoint:
    * push framing over the owning connection's outbound queue. `push`
    * returns false when the channel is dead/overflowed; `end` carries the
    * one owed 163 "observation ended" ack.
    */
  trait Sink {
    def push(formatCode: Int, message: String): Boolean
    def end(): Unit
    /** The owning connection, for dead-channel eviction. */
    def owner: AnyRef
  }

  private val sinks =
    scala.collection.concurrent.TrieMap.empty[String, Sink]

  def register(ident: String, sink: Sink): Unit = sinks(ident) = sink

  /** Route one fan-out delivery set; a dead sink drops its registration
    * here and in the engine (the reference GCs gone observers,
    * `server.re:203-206`).
    */
  def deliver(formatCode: Int, out: Seq[(String, String)]): Unit =
    out.foreach { case (ident, message) =>
      sinks.get(ident).foreach { s =>
        if (!s.push(formatCode, message)) drop(ident)
      }
    }

  private def drop(ident: String): Unit = {
    sinks.remove(ident)
    engine.dropSubscription(ident)
    // callback idents must free their path too, or a dead connection
    // poisons it forever — the reference's ROUTER-identity model lets a
    // new client re-attach under the same key (ADVICE r12); a no-op for
    // subscription uuids
    engine.dropNotify(ident)
  }

  /** Drop every registration riding a dead connection. */
  def dropOwned(owner: AnyRef): Unit =
    sinks.keys.toSeq.foreach { ident =>
      if (sinks.get(ident).exists(_.owner eq owner)) drop(ident)
    }

  /** The reference's before-every-message expiry sweep: each expired
    * subscription gets one 163, wherever its channel lives. Call under
    * the WRITE lock (see [[rw]]).
    */
  def sweep(nowMs: Long): Unit =
    engine.sweepExpired(nowMs).foreach { uuid =>
      sinks.remove(uuid).foreach(_.end())
    }

  def close(): Unit = sinks.clear()
}
