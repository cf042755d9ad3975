package graft.sources

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

/** The mount daemon's live stats ticker (reference pufs/cmd/mount.go:63-75:
  * a 5-second `time.Ticker` draining into `ds.PrintStats()` for as long as
  * the mount is served) — re-expressed as a daemon-thread scheduler that
  * publishes `PufsFileSystem.statsReport` (fetch totals, Reservoir
  * latency/size percentiles, in-flight gauge, trailing-5s transfer rate)
  * to a sink on the same cadence.
  *
  * One process-global instance is started lazily by the first `pufs://`
  * filesystem initialize (the "while mounted" lifetime analog) and logs
  * at INFO; tests and embedding processes construct their own with a fast
  * interval and a capturing sink. The tick only formats + publishes a
  * line — all counters are maintained by the IO paths — so an idle
  * heartbeat costs one string per interval. */
final class StatsHeartbeat(intervalMs: Long, sink: String => Unit)
    extends AutoCloseable {

  /** Completed ticks — lets a caller await "≥ n reports published". */
  val ticks = new AtomicLong(0)

  private val exec = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "pufs-stats-heartbeat")
    t.setDaemon(true) // never holds the JVM open (mount.go ticker goroutine)
    t
  }
  exec.scheduleAtFixedRate(
    () => {
      try sink(PufsFileSystem.statsReport)
      catch { case _: Throwable => } // a failing sink must not kill the timer
      ticks.incrementAndGet()
    },
    intervalMs, intervalMs, TimeUnit.MILLISECONDS)

  /** Stops the ticker and waits until its executor has terminated, so a
    * stopped heartbeat's thread is not still running its last tick when
    * the caller goes on (StatsHeartbeatSpec counts the live ones). */
  override def close(): Unit = {
    exec.shutdownNow()
    exec.awaitTermination(5, TimeUnit.SECONDS)
    ()
  }
}

object StatsHeartbeat {

  /** The reference cadence (pufs/cmd/mount.go:63 `5 * time.Second`). */
  val DefaultIntervalMs = 5000L

  private val global = new AtomicReference[StatsHeartbeat](null)
  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(classOf[StatsHeartbeat])

  /** Start the process-global INFO-logging heartbeat if none is running —
    * called from PufsFileSystem.initialize, so stats flow for exactly as
    * long as a pufs:// filesystem is in use. Idempotent. */
  def ensureGlobal(intervalMs: Long = DefaultIntervalMs): Unit =
    if (global.get() == null) {
      val hb = new StatsHeartbeat(intervalMs, line => log.info(s"pufs $line"))
      if (!global.compareAndSet(null, hb)) hb.close() // lost the race
    }

  def stopGlobal(): Unit = {
    val hb = global.getAndSet(null)
    if (hb != null) hb.close()
  }
}
