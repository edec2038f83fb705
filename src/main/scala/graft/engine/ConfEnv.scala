package graft.engine

import org.apache.spark.sql.SparkSession

/** Session-conf overrides from the `SPARK_GRAFT_CONF` env var
  * (`k=v,k=v`), applied to BOTH faces of the dual-engine contract from
  * ONE definition: [[apply]] sets them on the Spark session (the
  * engine face) and [[get]] serves the oracle-SQL builders that
  * interpolate the same knob into their DuckDB text (the oracle face).
  * Because both reads happen inside the same JVM from the same env
  * var, the two engines cannot desynchronize — which is the whole
  * point: the hot-bucket probe profile (tools/probe_all.sh) shrinks
  * `graft.neardedup.bucketCap` so the cap binds on probe-scale DATA,
  * and the pair-window oracles must shrink with it. The driver never
  * sets the env, so its runs see the committed defaults
  * byte-identically.
  *
  * Parsed once per JVM (env vars are immutable per process); values
  * must not contain ',' or '=' (no current knob does).
  */
object ConfEnv {
  val overrides: Map[String, String] =
    sys.env.get("SPARK_GRAFT_CONF").map(_.split(",").iterator
      .map(_.trim).filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
        (kv.substring(0, i).trim, kv.substring(i + 1).trim)
      }.toMap).getOrElse(Map.empty)

  /** Set every override on the session (the engine face). */
  def apply(spark: SparkSession): Unit =
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }

  /** One knob for an oracle-SQL builder (the DuckDB face). */
  def get(key: String, default: String): String =
    overrides.getOrElse(key, default)

  /** Every knob whose value is ALSO baked into oracle-SQL text by a
    * builder (via [[get]]), with its engine-side default — the keys
    * where a session-conf-only override would move the ENGINE while
    * the ORACLE text kept the env-derived value, i.e. silent
    * dual-face desynchronization (round-14 ADVICE). Defaults mirror
    * the use sites: Tables.vectorDim / TextOps.bucketCap /
    * RelQueries' gap-fill grid bound. (`graft.text.foldHexDigits`
    * has its own dedicated Verify guard — the oracle hardcodes 8.) */
  val mirrored: Map[String, String] = Map(
    "graft.vector.dim"             -> "64",
    "graft.neardedup.bucketCap"    -> "4096",
    "graft.timeseries.maxGridHours" -> "2000000")

  /** Fail fast when a mirrored knob was set on the session WITHOUT
    * going through SPARK_GRAFT_CONF: the engine face would read the
    * conf value while every oracle literal kept the env value, and
    * the divergence would surface only as mass parity failures
    * downstream. Called by oracled entry points (Verify) before any
    * work. */
  def requireSynced(spark: SparkSession): Unit =
    mirrored.foreach { case (k, d) =>
      spark.conf.getOption(k).foreach { v =>
        val envFace = get(k, d)
        require(v == envFace,
          s"$k=$v was set via spark.conf, but the oracle SQL bakes $k=$envFace " +
            "from SPARK_GRAFT_CONF — in an oracled run this knob must be set via " +
            "SPARK_GRAFT_CONF so both engine faces move together")
      }
    }
}
