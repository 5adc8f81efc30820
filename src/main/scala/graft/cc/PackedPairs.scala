package graft.cc

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, graftsql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** A checkpoint of bigint pairs in `counts.length` groups, stored as
  * primitive long arrays: the format of every round [[ConnectedComponents]]
  * writes and reads back.
  *
  * Each partition holds chunks of at most [[PackedPairs.ChunkPairs]]
  * pairs. A chunk is one `Array[Long]`, column-wise: the pair count of
  * each group, then each group's first column and second column. Spark
  * serializes blocks of primitive arrays with its own Kryo instance
  * whatever `spark.serializer` says, so a chunk costs 8 B per long plus
  * a few bytes: about 16 B per pair, where a 2-long `UnsafeRow` under
  * the default Java serializer costs 42 B (a 3-field contraction row
  * 50 B). Column-wise storage also leaves a converged round's nearly
  * constant label column to the codec when `spark.rdd.compress` is on.
  * Counts are explicit, so every long is a valid id.
  */
private[cc] final class PackedPairs private (chunks: RDD[Array[Long]], val counts: Array[Long],
                                             reliable: Boolean) {

  def numPartitions: Int = chunks.getNumPartitions

  /** Group `group`'s pairs as two-long rows (one reused `UnsafeRow` per
    * partition), read off the stored chunks.
    */
  def rows(group: Int = 0): RDD[InternalRow] = {
    val groups = counts.length
    chunks.mapPartitions(new PackedPairs.Unpack(_, groups, group))
  }

  /** Group `group` as a two-bigint-column DataFrame over [[rows]], whose
    * plan reports the exact row count and 16 B per row: a small result
    * plans as small, so a later join can broadcast it.
    */
  def frame(spark: SparkSession, a: String, b: String, group: Int = 0): DataFrame =
    graftsql.ofInternalRows(spark,
      StructType(Seq(StructField(a, LongType, nullable = false),
        StructField(b, LongType, nullable = false))),
      rows(group), Some((counts(group), 16L * counts(group))))

  /** Every pair of group 0, on the driver: one job. */
  def foreachPair(f: (Long, Long) => Unit): Unit =
    new PackedPairs.Unpack(chunks.collect().iterator, counts.length, 0)
      .foreach(r => f(r.getLong(0), r.getLong(1)))

  /** Frees the blocks now and, for a reliable checkpoint, its files too.
    * The blocks go without `RDD.unpersist`, which warns on every locally
    * checkpointed RDD that its lineage is gone; nothing reads them again.
    * `unpersist` cannot touch reliable checkpoint files (they outlive the
    * blocks by design), and the ContextCleaner deletes them only when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set AND a
    * driver GC collects the RDD: rare on a big heap, so a multi-round
    * fixpoint would otherwise hold every round's files until context
    * stop. Call it only once nothing reads this checkpoint again.
    */
  def free(): Unit = {
    graftsql.unpersistQuietly(chunks)
    if (reliable) chunks.getCheckpointFile.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(chunks.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}

private[cc] object PackedPairs {

  /** Pairs per chunk at most: 16 MiB of longs, so no one array nears
    * the JVM's array limit or a serializer buffer's.
    */
  val ChunkPairs: Int = 1 << 20

  /** Packs the first two (bigint) fields of `rows` into chunks, each row
    * in group `group(row)` (a null field is an error), and stores them
    * at `MEMORY_AND_DISK_SER` with a local checkpoint or, when
    * `reliable`, a reliable one. One job materializes the store and
    * returns each group's pair count; a reliable checkpoint then copies
    * the blocks to the checkpoint dir (one more job) and frees them.
    * `rows` is read once, by that job.
    */
  def store(rows: RDD[InternalRow], reliable: Boolean = false, groups: Int = 1,
            group: InternalRow => Int = _ => 0): PackedPairs = {
    val chunks = rows.mapPartitions(new Pack(_, groups, group))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    if (reliable) chunks.checkpoint() else chunks.localCheckpoint()
    val counts = new Array[Long](groups)
    chunks.sparkContext.runJob(chunks, (it: Iterator[Array[Long]]) => {
      val c = new Array[Long](groups)
      it.foreach(chunk => (0 until groups).foreach(g => c(g) += chunk(g)))
      c
    }).foreach(c => (0 until groups).foreach(g => counts(g) += c(g)))
    if (reliable) chunks.unpersist(false)
    new PackedPairs(chunks, counts, reliable)
  }

  /** Two growable long columns. */
  private final class Columns {
    var a, b = new Array[Long](1024)
    var n = 0
    def add(x: Long, y: Long): Unit = {
      if (n == a.length) {
        a = java.util.Arrays.copyOf(a, 2 * n)
        b = java.util.Arrays.copyOf(b, 2 * n)
      }
      a(n) = x
      b(n) = y
      n += 1
    }
  }

  private final class Pack(rows: Iterator[InternalRow], groups: Int, group: InternalRow => Int)
      extends Iterator[Array[Long]] {
    private val cols = Array.fill(groups)(new Columns)

    def hasNext: Boolean = rows.hasNext

    def next(): Array[Long] = {
      var n = 0
      while (n < ChunkPairs && rows.hasNext) {
        val r = rows.next()
        if (r.isNullAt(0) || r.isNullAt(1))
          throw new IllegalArgumentException("packed pairs: null edge endpoint")
        cols(group(r)).add(r.getLong(0), r.getLong(1))
        n += 1
      }
      val chunk = new Array[Long](groups + 2 * n)
      var off = groups
      var g = 0
      while (g < groups) {
        val c = cols(g)
        chunk(g) = c.n
        System.arraycopy(c.a, 0, chunk, off, c.n)
        System.arraycopy(c.b, 0, chunk, off + c.n, c.n)
        off += 2 * c.n
        c.n = 0
        g += 1
      }
      chunk
    }
  }

  private final class Unpack(chunks: Iterator[Array[Long]], groups: Int, group: Int)
      extends Iterator[InternalRow] {
    private val row = new UnsafeRow(2)
    row.pointTo(new Array[Byte](24), 24)
    private var chunk: Array[Long] = null
    private var off, n, i = 0

    def hasNext: Boolean = {
      while (i == n && chunks.hasNext) {
        chunk = chunks.next()
        off = groups
        var g = 0
        while (g < group) { off += 2 * chunk(g).toInt; g += 1 }
        n = chunk(group).toInt
        i = 0
      }
      i < n
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("end of packed pairs")
      row.setLong(0, chunk(off + i))
      row.setLong(1, chunk(off + n + i))
      i += 1
      row
    }
  }
}
