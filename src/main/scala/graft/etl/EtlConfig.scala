package graft.etl

import scala.util.control.NonFatal

/** Env-driven pipeline configuration — the reference's config module
  * (/root/reference/src/config.py:54-101) re-expressed for the Spark
  * engine: database parameters from DB_* environment variables, logging
  * from LOG_LEVEL/LOG_FILE, ETL knobs (batch size, validation toggle,
  * retries) with the same defaults. `fromEnv` takes the environment as a
  * plain Map so tests inject it; the zero-arg form reads `sys.env`.
  */
final case class EtlConfig(
    dbHost: String,
    dbPort: Int,
    dbName: String,
    dbUser: String,
    dbPassword: String,
    logLevel: String,
    logFile: Option[String],
    batchSize: Int,
    enableValidation: Boolean,
    maxDbRetries: Int,
    retryDelaySec: Int) {

  /** PostgreSQL JDBC URL from the DB_* parts (reference DB_CONFIG). */
  def jdbcUrl: String = s"jdbc:postgresql://$dbHost:$dbPort/$dbName"
}

object EtlConfig {

  /** Reference defaults (src/config.py): localhost:5432/finance_etl,
    * INFO logging, batch 1000, validation on, 3 retries, 1 s delay.
    */
  def fromEnv(env: Map[String, String] = sys.env): EtlConfig = {
    def int(key: String, default: Int): Int = {
      val raw = env.getOrElse(key, default.toString)
      try raw.toInt
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$key must be an integer, got '$raw'")
      }
    }
    def bool(key: String, default: Boolean): Boolean =
      env.get(key).map(_.toLowerCase) match {
        case None => default
        case Some("true" | "1" | "yes") => true
        case Some("false" | "0" | "no") => false
        case Some(other) =>
          throw new IllegalArgumentException(s"$key must be a boolean, got '$other'")
      }
    EtlConfig(
      dbHost = env.getOrElse("DB_HOST", "localhost"),
      dbPort = int("DB_PORT", 5432),
      dbName = env.getOrElse("DB_NAME", "finance_etl"),
      dbUser = env.getOrElse("DB_USER", "etl"),
      dbPassword = env.getOrElse("DB_PASSWORD", ""),
      logLevel = env.getOrElse("LOG_LEVEL", "INFO"),
      logFile = env.get("LOG_FILE"),
      batchSize = int("BATCH_SIZE", 1000),
      enableValidation = bool("ENABLE_VALIDATION", default = true),
      maxDbRetries = int("MAX_DB_RETRIES", 3),
      retryDelaySec = int("RETRY_DELAY", 1))
  }

  /** Bounded retry with fixed delay — the reference's MAX_DB_RETRIES /
    * RETRY_DELAY loop around database operations. Retries on any
    * non-fatal exception, rethrows the last one when attempts are
    * exhausted; a fatal throwable (OOM, interrupt, ...) propagates at once,
    * without a sleep or a retry.
    */
  def withRetries[T](maxRetries: Int, delaySec: Int, log: String => Unit = _ => ())(
      body: => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt <= maxRetries) {
      if (attempt > 0) {
        log(s"retry $attempt/$maxRetries after: ${last.getMessage}")
        Thread.sleep(delaySec * 1000L)
      }
      try return body
      catch { case NonFatal(e) => last = e; attempt += 1 }
    }
    throw last
  }
}
