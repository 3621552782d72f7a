package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Mirrors the engine settings the reference pins via
  * `processing/config/spark-defaults.conf:17-29` and `makefile:139-140`
  * (AQE on, partition coalescing, skew-join handling, Kryo, UTC), adapted
  * to local-mode testing. On a real cluster the same builder applies —
  * only `master` and memory sizing change.
  */
object GraftSession {

  /** Shuffle partitions should match available parallelism locally; on a
    * 1000-executor cluster this would be set to ~2-3x total cores (and AQE
    * coalesces down), so we key it off the local thread count here.
    */
  def builder(cores: Int = defaultCores): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Typed Aggregators (top-k, KMV bottom-k) run through
      // ObjectHashAggregateExec, which falls back to SORT-BASED
      // aggregation after 128 distinct keys per task — re-introducing
      // exactly the O(n log n) candidate sort those map-side-truncating
      // sketches exist to avoid. Their buffers are k<=64 rows, so a much
      // larger in-memory hash map is safe.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")
      // local files go through LocalFs: it sets file modes without forking
      // a process per created file and directory; FileContext (streaming
      // checkpoints) gets the same through LocalFs.Fs
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalFs.Fs].getName)

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
