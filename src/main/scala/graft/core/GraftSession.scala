package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory.
  *
  * Mirrors the reference runtime configuration (reference:
  * config/spark_config.py:19-38) in Spark 4 terms: adaptive execution on,
  * Kryo serializer, UTC session timezone (load-bearing for every temporal
  * derivation and the chronological split — reference:
  * config/spark_config.py:37).
  *
  * Deliberate difference: `spark.sql.shuffle.partitions` defaults to the
  * local core count instead of 200 so a `local[N]` run does not fragment
  * small shuffles into empty tasks. On a real cluster the submitter
  * overrides this (rule of thumb: 2-3x total executor cores, or rely on
  * AQE coalescing, which stays enabled here).
  */
object GraftSession {

  def builder(
      master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** SPARK_GRAFT_CPUS, the local core count, or `default` when unset.
    * A value that is not a positive integer fails here, naming it, rather
    * than reaching `local[...]` or a JSON number field as a raw string.
    */
  def envCpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => default
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** Local session with WARN logging, used by mains and tests. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 1)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
