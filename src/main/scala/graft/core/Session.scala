package graft.core

import org.apache.spark.sql.SparkSession

/** The one local session shape. Bench times it, Verify checks it, and the
  * tools and specs run on it, so the plans the oracle sees are the plans
  * the bench measures.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else 32: the pinned bench protocol (`local[32]`).
    * An unset variable must not silently yield numbers that cannot be
    * compared with the recorded ones.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32)

  /** `local[cpus]` with one shuffle partition per core, AQE, UTC, 16 MB
    * file splits and [[Scratch.localDir]] for shuffle and spill.
    */
  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.local.dir", Scratch.localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
