package graft.federation.sql

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import org.apache.spark.TaskContext

/** Remote-statement cancellation watchdog.
  *
  * A killed Spark task only dies when its thread notices: tasks blocked
  * INSIDE a remote engine call never do on their own. Spark's cooperative
  * points don't help here — `InterruptibleIterator` checks at row
  * boundaries (useless before the first row arrives from a slow engine),
  * and thread interrupts are only sent when the kill carries
  * `interruptThread=true` (off by default for job cancellation). Probed
  * live on embedded Derby: `Statement.cancel` is unimplemented
  * (SQLFeatureNotSupportedException), closing the connection from another
  * thread does NOT stop a running query (it ran to completion), but a
  * thread interrupt aborts it within milliseconds ("Connection closed by
  * unknown interrupt"). The DuckDB subprocess equivalent is killing the
  * process, which EOFs the blocked pipe read.
  *
  * So: each executor registers its in-flight remote fetch here; a single
  * daemon thread polls every 100 ms and fires the engine-appropriate
  * cancel action once. Inside a task it polls `TaskContext.isInterrupted()`
  * (set by ANY task kill, with or without `interruptThread`); on the
  * driver (planning probes, a root scan collected without a job) there is
  * no task to kill, so it polls the calling thread's interrupt flag —
  * Spark Connect and the Thrift server cancel a statement by interrupting
  * its execution thread. A blocked pipe read never notices that flag by
  * itself, which is why the watchdog must act for it. Entries deregister
  * under the entry lock (on task completion, or when the caller closes
  * the handle), so a late poll can never cancel into a thread that has
  * moved on.
  */
object RemoteCancel {

  private final class Entry(killed: () => Boolean, onKill: () => Unit)
    extends AutoCloseable {
    var done = false
    var fired = false
    def poll(): Unit = synchronized {
      if (!done && !fired && killed()) {
        fired = true
        try onKill() catch { case _: Throwable => () }
      }
    }
    override def close(): Unit = {
      synchronized { done = true }
      entries.remove(this)
      ()
    }
  }

  private val entries = ConcurrentHashMap.newKeySet[Entry]()

  private lazy val poller = {
    val ex = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-remote-cancel")
      t.setDaemon(true)
      t
    }
    ex.scheduleAtFixedRate(() => entries.forEach(_.poll()),
      100, 100, TimeUnit.MILLISECONDS)
    ex
  }

  /** Watch the current task — or, outside a task, the calling thread —
    * and run `onKill` (once, on the watchdog thread) if it is killed or
    * interrupted while the fetch is in flight. Closing the handle
    * deregisters; inside a task, task completion also does. */
  def watch(onKill: () => Unit): AutoCloseable = {
    poller // start the daemon on first use
    val ctx = TaskContext.get()
    val e =
      if (ctx != null) {
        val e = new Entry(() => ctx.isInterrupted(), onKill)
        ctx.addTaskCompletionListener[Unit] { _ =>
          e.close()
          // a cancel that landed as a thread interrupt between the task
          // body ending and this listener must not leak into the thread's
          // next task
          if (e.synchronized(e.fired)) Thread.interrupted()
        }
        e
      } else {
        val caller = Thread.currentThread()
        new Entry(() => caller.isInterrupted, onKill)
      }
    entries.add(e)
    e
  }
}
