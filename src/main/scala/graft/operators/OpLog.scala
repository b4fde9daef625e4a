package graft.operators

import org.apache.logging.log4j.LogManager

/** The ONE channel for operator events — what an operator reports outside
  * its return value (a stale lease taken over, a swap or sidecar
  * recovered, a saturated sketch, a torn commit repaired). Each event has
  * a stable dotted name, so a deployment counts or filters them through
  * its log4j configuration (logger `graft.operators`) instead of scraping
  * ad-hoc stderr lines. Spark's log4j console appender writes to stderr,
  * so stdout result lines stay clean. */
private[graft] object OpLog {
  private val log = LogManager.getLogger("graft.operators")

  def warn(event: String, msg: => String): Unit =
    if (log.isWarnEnabled) log.warn(s"[$event] $msg")

  def info(event: String, msg: => String): Unit =
    if (log.isInfoEnabled) log.info(s"[$event] $msg")

  def debug(event: String, msg: => String): Unit =
    if (log.isDebugEnabled) log.debug(s"[$event] $msg")
}
