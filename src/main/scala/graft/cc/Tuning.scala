package graft.cc

import org.apache.spark.sql.SparkSession

/** Measured session settings for giant-graph [[ConnectedComponents]]
  * runs — the preset a 100 TB deployment should start from, promoted
  * out of the scale probes (SCALE.md rounds 10-11) so a library user
  * inherits them instead of rediscovering each one by OOM or by a full
  * scratch disk. Every entry carries the measurement that put it here:
  *
  *   - `spark.rdd.compress=true` + `spark.io.compression.codec=zstd`:
  *     the fixpoint's round checkpoints are `MEMORY_AND_DISK_SER`, but
  *     serialized RDD blocks are NOT compressed by default — and on a
  *     giant-component run those blocks are the dominant storage term.
  *     Near convergence every row is `(n, componentMin)`, a
  *     nearly-constant column pair that zstd compresses ~10×. Measured
  *     on the 10⁸-member single-component probe, when rounds were
  *     stored as serialized `UnsafeRow`s: uncompressed round
  *     checkpoints filled ~90 GB of scratch and killed the run; with
  *     this pair the same run peaked at ~34 GB and passed. Rounds are
  *     now packed long arrays: on a converged round zstd takes them
  *     from 16.00 to 1.16 B per pair, where rows went from 42.19 to
  *     2.02 (SCALE.md "Packed checkpoints").
  *
  *   - `spark.sql.adaptive.advisoryPartitionSizeInBytes` (derived, see
  *     [[advisoryPartitionBytes]]): AQE's partition coalescing targets
  *     COMPRESSED shuffle bytes (`MapOutputStatistics`), so turning on
  *     a ~10× codec silently makes AQE pack ~10× the raw rows into one
  *     task. At the default 64m advisory size a converged-round
  *     coalesced task carried ~640 MB of raw rows, whose sort pointer
  *     array alone (~512 MB at 3×10⁷ rows) blew a 1 GB/core budget —
  *     the contracted label join OOM'd exactly there. Dividing the raw
  *     per-task target by the observed compression ratio restores the
  *     intended task size: 160m raw / 10 → 16m advisory.
  *
  *   - `spark.cleaner.periodicGC.interval=60s`: shuffle files are
  *     reaped by the ContextCleaner only when the referencing RDDs are
  *     GC'd; on a big-heap driver GCs are rare, so a multi-round
  *     fixpoint pins every round's shuffle files on disk for the
  *     default 30 min — longer than whole probe runs. (Checkpoint
  *     BLOCKS are freed explicitly by the fixpoint itself; this covers
  *     the shuffle-file tail.)
  *
  * The first two are SparkConf-level (read at context start): apply
  * them via [[configure]] on the builder BEFORE the session exists —
  * setting them on a live session is a silent no-op.
  * `CCScaleProbe` consumes this object verbatim, and `TuningSpec` pins
  * the values, so the preset and the measurements cannot drift apart.
  */
object Tuning {

  /** Observed zstd compression ratio of converged-round checkpoint /
    * shuffle bytes on the giant-component probes (SCALE.md r11) — the
    * calibration input for [[advisoryPartitionBytes]]. Re-measure for
    * a different codec or a different row shape.
    */
  val ConvergedRoundCompressionRatio: Long = 10L

  /** Raw (uncompressed) row bytes one coalesced task should carry —
    * Spark's own 64m advisory default was sized for lz4-era ~2.5×
    * shuffle compression, i.e. ~160 MB of raw rows per task; keep that
    * raw target and let the codec ratio set the compressed advisory.
    */
  val TargetRawBytesPerTask: Long = 160L << 20

  /** AQE advisory partition size consistent with a given shuffle
    * compression ratio: compressed bytes per task such that the RAW
    * rows a coalesced task carries stay at [[TargetRawBytesPerTask]].
    */
  def advisoryPartitionBytes(
      compressionRatio: Long = ConvergedRoundCompressionRatio): Long = {
    require(compressionRatio >= 1L, s"ratio $compressionRatio < 1")
    TargetRawBytesPerTask / compressionRatio
  }

  /** The giant-run preset, keyed by Spark conf name. */
  val recommended: Map[String, String] = Map(
    "spark.rdd.compress" -> "true",
    "spark.io.compression.codec" -> "zstd",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
      advisoryPartitionBytes().toString,
    "spark.cleaner.periodicGC.interval" -> "60s",
  )

  /** Applies [[recommended]] to a session builder (the only place the
    * SparkConf-level entries can take effect).
    */
  def configure(builder: SparkSession.Builder): SparkSession.Builder =
    recommended.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }

  /** Whether a session's value for `key` means the same SETTING as the
    * preset's, under the key's own value syntax (ADVICE r12): byte
    * sizes parse through Spark's suffix grammar (`16m` ==
    * `16777216`), durations through the time grammar (`1min` ==
    * `60s`), the codec by its short name (`zstd` ==
    * `org.apache.spark.io.ZstdCompressionCodec`), and everything else
    * case-insensitively — exact string equality would nag a
    * correctly-tuned session over an equivalent spelling. A value the
    * key's grammar cannot parse compares non-equal (the hint then
    * names the key, which is the right outcome for a malformed conf).
    */
  def sameSetting(key: String, a: String, b: String): Boolean = {
    import org.apache.spark.network.util.JavaUtils
    def tryParse(f: String => Long)(s: String): Option[Long] =
      try Some(f(s.trim)) catch { case _: Exception => None }
    def both(f: String => Long): Boolean = {
      val (pa, pb) = (tryParse(f)(a), tryParse(f)(b))
      pa.isDefined && pa == pb
    }
    def codecName(s: String): String =
      s.trim.split('.').last.toLowerCase(java.util.Locale.ROOT)
        .stripSuffix("compressioncodec")
    key match {
      case "spark.sql.adaptive.advisoryPartitionSizeInBytes" =>
        both(JavaUtils.byteStringAsBytes)
      case "spark.cleaner.periodicGC.interval" =>
        // Spark declares this key timeConf(TimeUnit.SECONDS), so a
        // suffixless value means SECONDS — parsing with the ms default
        // would both nag a correct "60" and, worse, silently equate a
        // mis-tuned "60000" (16.7 h) with the preset's 60s.
        both(JavaUtils.timeStringAs(_, java.util.concurrent.TimeUnit.SECONDS))
      case "spark.io.compression.codec" => codecName(a) == codecName(b)
      case _ => a.trim.equalsIgnoreCase(b.trim)
    }
  }
}
