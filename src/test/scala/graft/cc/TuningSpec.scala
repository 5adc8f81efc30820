package graft.cc

import graft.SparkSpec

/** Pins the giant-run preset to the probe-measured values (VERDICT r11
  * #1). `CCScaleProbe` consumes [[Tuning.recommended]] verbatim via
  * `Tuning.configure`, so this spec is what keeps
  * "what the probes measured" and "what a library user gets" from
  * drifting apart — an edit to either side fails here until the
  * measurement story is updated with it.
  */
class TuningSpec extends SparkSpec {

  test("the preset carries exactly the probe-measured giant-run settings") {
    assert(Tuning.recommended === Map(
      "spark.rdd.compress" -> "true",
      "spark.io.compression.codec" -> "zstd",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16777216",
      "spark.cleaner.periodicGC.interval" -> "60s"))
  }

  test("the advisory size is the raw per-task target over the observed " +
       "compression ratio (the AQE-coalescing x codec interplay)") {
    // 160 MB raw rows per coalesced task / 10x converged-round zstd
    // ratio = 16m compressed advisory — the value that stopped the
    // 1 GB/core sort OOM on the giant contracted label join
    assert(Tuning.advisoryPartitionBytes() === 16L << 20)
    assert(Tuning.advisoryPartitionBytes() ===
      Tuning.TargetRawBytesPerTask / Tuning.ConvergedRoundCompressionRatio)
    // ratio 1 (no compression) degenerates to the raw target itself
    assert(Tuning.advisoryPartitionBytes(1L) === Tuning.TargetRawBytesPerTask)
    intercept[IllegalArgumentException](Tuning.advisoryPartitionBytes(0L))
  }

  test("missingScaleConfs names exactly the preset keys the session " +
       "lacks (the runAuto giant-input hint's decision logic)") {
    // the shared test session carries none of the preset
    assert(ConnectedComponents.missingScaleConfs(spark) ===
      Tuning.recommended.keys.toSeq.sorted)
    // a session-settable entry, once set to the preset value, drops off
    val k = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(k, Tuning.recommended(k))
    try assert(!ConnectedComponents.missingScaleConfs(spark).contains(k))
    finally spark.conf.unset(k)
    // ...and a DIFFERENT value still counts as missing
    spark.conf.set(k, "123456")
    try assert(ConnectedComponents.missingScaleConfs(spark).contains(k))
    finally spark.conf.unset(k)
    // ...while an EQUIVALENT SPELLING does not (ADVICE r12: exact
    // string equality nagged correctly-tuned sessions)
    spark.conf.set(k, "16m")
    try assert(!ConnectedComponents.missingScaleConfs(spark).contains(k))
    finally spark.conf.unset(k)
  }

  test("sameSetting compares under each key's value grammar, not string " +
       "equality (ADVICE r12)") {
    val size = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    assert(Tuning.sameSetting(size, "16m", "16777216"))
    assert(Tuning.sameSetting(size, "16MB", "16777216"))
    assert(!Tuning.sameSetting(size, "64m", "16777216"))
    assert(!Tuning.sameSetting(size, "not-a-size", "16777216"))
    val gc = "spark.cleaner.periodicGC.interval"
    assert(Tuning.sameSetting(gc, "1min", "60s"))
    assert(Tuning.sameSetting(gc, "60000ms", "60s"))
    assert(!Tuning.sameSetting(gc, "30s", "60s"))
    // suffixless means SECONDS for this key (Spark declares it
    // timeConf(SECONDS)): "60" IS the preset, "60000" is 16.7 hours
    assert(Tuning.sameSetting(gc, "60", "60s"))
    assert(!Tuning.sameSetting(gc, "60000", "60s"))
    val codec = "spark.io.compression.codec"
    assert(Tuning.sameSetting(codec,
      "org.apache.spark.io.ZstdCompressionCodec", "zstd"))
    assert(Tuning.sameSetting(codec, "ZSTD", "zstd"))
    assert(!Tuning.sameSetting(codec, "lz4", "zstd"))
    // free-form entries compare case-insensitively
    assert(Tuning.sameSetting("spark.rdd.compress", "TRUE", "true"))
    assert(!Tuning.sameSetting("spark.rdd.compress", "false", "true"))
  }
}
