package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every main runs in. */
object Session {

  /** `local[n]` with n shuffle partitions, where n is `SPARK_GRAFT_CPUS`
    * or `defaultCpus` when unset. */
  def local(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // topk_by_score / two-stage argmax are TypedImperativeAggregates:
      // ObjectHashAggregate abandons its hash map for sort-based agg at
      // 128 distinct keys per task by default. The aggregation state here
      // is k-bounded heaps (tiny), so a larger map is strictly safe and
      // avoids a per-task sort on every argmax query.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
