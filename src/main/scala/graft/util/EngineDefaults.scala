package graft.util

import org.apache.spark.sql.SparkSession

/** Engine-wide compression defaults, in ONE place (review r16: the same
  * three configs + justification comment were copy-pasted into six
  * session builders, and the probe mains hardcoded the values — so an
  * `SPARK_EXTRA_OPTS="-Dspark.io.compression.zstd.level=1"` A/B through a
  * probe would silently measure level 3, the exact silent-override bug
  * Bench's sys-props read exists to prevent).
  *
  * Values and their evidence:
  *  - zstd + rdd.compress (round-15 sf1000 A/B): 18% faster wall at 33%
  *    lower peak disk on the disk-bound bottom-k join vs lz4 — the
  *    disk-bound phases read and write a third less;
  *  - zstd LEVEL 3 (round-16 sf1000 A/B, same session): 403.1 s /
  *    19.5 GB peak scratch vs level-1's 421.4 s / 34.7 GB — wall within
  *    noise, scratch −44%, and scratch CAPACITY is the single-host wall
  *    the fifth-decade probes keep hitting.
  *
  * sys.props are read FIRST so SPARK_EXTRA_OPTS passthroughs land:
  * builder `.config` beats `-D` system properties, so a hardcoded value
  * silently ignores the A/B override.
  */
object EngineDefaults {
  def withCompression(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.rdd.compress",
        sys.props.getOrElse("spark.rdd.compress", "true"))
      .config("spark.io.compression.codec",
        sys.props.getOrElse("spark.io.compression.codec", "zstd"))
      .config("spark.io.compression.zstd.level",
        sys.props.getOrElse("spark.io.compression.zstd.level", "3"))
      // AQE partition-coalescing floor, 1 MB → 64 KB (round 17, guide
      // §2.5): the engine's hot frames are hashed-shingle / packed-code
      // layouts at ~8–16 B per element, so a stage's shuffle BYTES
      // understate its compute by orders of magnitude — with the default
      // 1 MB floor, AQE coalesced the PPJoin rank-window/candidate-join
      // and bottom-k rescore exchanges (2–3 MB) down to 1–2 tasks and the
      // whole stage ran serially (measured: 300–500 ms single-task stages
      // at sf0.1 across the dedup family). parallelismFirst already
      // targets max(bytes / parallelism, floor); the floor only binds
      // when partitions are tiny, so on large inputs — where bytes /
      // parallelism ≫ 1 MB — this setting changes NOTHING, at any cluster
      // size. It is a pure small-exchange parallelism fix, not a local
      // tuning: the same floor misbehaves on a 100 TB run's small frames
      // (per-group medians, vocabulary tails, candidate id sets).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.props.getOrElse(
          "spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k"))

  /** The engine's one session factory: [[withCompression]], `local[cpus]`,
    * one shuffle partition per core, UTC, no UI, WARN logging, and every
    * native function installed ([[graft.functions.Natives]]).
    */
  def local(cpus: Int): SparkSession = {
    val spark = withCompression(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Natives.install(spark)
    spark
  }
}
