package graft

import org.apache.spark.sql.SparkSession

/** Single place all mains/tests build their SparkSession, so the scale-relevant
  * knobs (AQE, shuffle partitions sized to cores, skew-join splitting) are
  * consistent. On a real cluster the same settings apply per-executor; here
  * `local[N]` is the sandbox stand-in for an N-executor cluster.
  */
object Sessions {
  /** `shufflePartitions` defaults to `cores`; the bench's scaling runs pin it
    * to the SAME value at both parallelism levels so the logical work is
    * identical and only executor parallelism varies (the controlled N vs 4N
    * experiment).
    */
  def local(cores: Int, appName: String = "graft", shufflePartitions: Option[Int] = None): SparkSession = {
    val parts = shufflePartitions.getOrElse(cores)
    val b0 = SparkSession.builder()
    // respect an externally-provided master (spark-submit on a real cluster
    // injects spark.master; local[] is the sandbox fallback only)
    val withMaster =
      if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER")) b0
      else b0.master(s"local[$cores]")
    val s = withMaster
      .appName(appName)
      // SQL names for the custom Catalyst expressions (simhash64,
      // minhash_signature, content_anchors, ...); cluster users get the same
      // via --conf spark.sql.extensions=graft.GraftExtensions
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalesces on COMPRESSED shuffle bytes; transcript text compresses
      // ~5x, so the default 64MB advisory collapses real 100MB+ stages to 1-2
      // partitions and serializes them. 8MB advisory + a one-partition-per-
      // core floor keeps CPU scaling without losing AQE skew handling. The
      // floor is the default parallelism, which AQE coalescing falls back to
      // when no minimum partition count is set.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.default.parallelism", parts.toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (32 * 1024 * 1024).toString)
      // shuffle spill dir: tmpfs when available — on this box /tmp is
      // disk-backed and 32 concurrent shuffle writers serialize on it (the
      // cluster equivalent is local NVMe scratch on each executor)
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark-local" else "/tmp/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cores from env (driver passes SPARK_GRAFT_CPUS), default 4. */
  def fromEnv(appName: String = "graft"): SparkSession =
    local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, appName)
}
