package graft.etl

/** Operability config layer (reference src/common/config.py + exampleEnv):
  * the DB target, fetch timeout and retry policy, resolved from the
  * environment with the reference's defaults. The DB_* block renders the
  * JDBC url the [[JdbcUpsert]] sink connects to; TIMEOUT bounds each
  * [[HttpPageClient]] request and RETRY_* are the retry policy the CLI
  * hands [[FetchStage.fetchPages]]. Pass an `env` map for tests; defaults
  * to the process environment. */
final case class GraftConfig(
    dbHost: String,
    dbPort: Int,
    dbName: String,
    dbUser: String,
    dbPassword: String,
    timeoutSec: Int,
    retryAttempts: Int,
    retryDelayMs: Long) {

  /** Postgres JDBC url for the K4 sink (credentials go in connection
    * properties, never in the url). */
  def jdbcUrl: String = s"jdbc:postgresql://$dbHost:$dbPort/$dbName"

  /** The connection properties carrying those credentials — what
    * [[JdbcUpsert.upsert]] and [[JdbcSource.read]] accept alongside
    * [[jdbcUrl]]. */
  def connProps: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("user", dbUser)
    if (dbPassword.nonEmpty) p.setProperty("password", dbPassword)
    p
  }
}

object GraftConfig {

  /** Reference defaults (exampleEnv; retry: utils.py `retry_on_error`
    * max_attempts=3 delay=5; base url: bulk_collector.py). */
  def load(env: Map[String, String] = sys.env): GraftConfig = GraftConfig(
    dbHost = env.getOrElse("DB_HOST", "localhost"),
    dbPort = env.get("DB_PORT").map(_.toInt).getOrElse(5432),
    dbName = env.getOrElse("DB_NAME", "etl_db"),
    dbUser = env.getOrElse("DB_USER", "postgres"),
    dbPassword = env.getOrElse("DB_PASSWORD", ""),
    timeoutSec = env.get("TIMEOUT").map(_.toInt).getOrElse(10),
    retryAttempts = env.get("RETRY_ATTEMPTS").map(_.toInt).getOrElse(3),
    retryDelayMs = env.get("RETRY_DELAY_MS").map(_.toLong).getOrElse(5000L))
}
