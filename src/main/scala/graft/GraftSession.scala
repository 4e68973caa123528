package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession contract every graft main and spec builds on:
  * the settings the engine's plans and results depend on, stated once.
  * Callers pass only what differs between entry points — the app name,
  * the core count and, for a deployment, the master.
  *
  * Spark 4 defaults the engine relies on are not restated: AQE and its
  * partition coalescing are on, and `files.openCostInBytes` stays 4 MB
  * (64 KB measured 1.15× slower at full suite width, OPTIMIZATION_r13.md).
  */
object GraftSession {

  /** The SQL settings, with one shuffle partition per core. */
  private[graft] def sqlSettings(cores: Int): Map[String, String] = Map(
    // A hash(k1) exchange may serve a (k1, k2) join (subset-key
    // co-partitioning — Spark made the conservative choice the
    // default in 3.4); the engine's shared-exchange plans rely on it.
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.shuffle.partitions" -> cores.toString)

  /** A builder carrying the contract. `master` defaults to
    * `local[cores]`; with a cluster master, `cores` sizes only the
    * shuffle width. */
  def builder(appName: String,
      cores: Int = Runtime.getRuntime.availableProcessors(),
      master: Option[String] = None): SparkSession.Builder =
    SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName(appName)
      .config(sqlSettings(cores))
      .config("spark.ui.enabled", "false")
      // Survive long driver GC pauses in local mode: the in-process
      // executor shares the driver heap, and a full-GC stall past the
      // heartbeat window kills the JVM with exit 56 (HEARTBEAT_FAILURE).
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")

  /** Run `f` with each of `settings` set on `s`, then put every key
    * back as it was: its previous value, or unset when it was unset.
    * Restores on exceptions too. The previous values come from
    * `getAll`, not `getOption`: `getOption` reports a registered key's
    * default, and restoring that would pin the default in the session.
    * Settings a query captures when it starts (a stream's state-store
    * provider and partition count) stay with that query after the
    * block ends. */
  private[graft] def withConf[T](s: SparkSession,
      settings: (String, String)*)(f: => T): T = {
    val set = s.conf.getAll
    val prev = settings.map { case (k, _) => k -> set.get(k) }
    try {
      settings.foreach { case (k, v) => s.conf.set(k, v) }
      f
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
