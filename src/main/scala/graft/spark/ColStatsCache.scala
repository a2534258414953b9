package graft.spark

/** Global, snapshot-keyed cache of the MERGED per-column footer statistics
  * feeding cost-based optimization.
  *
  * Why it exists: CBO column stats (NDV registers, null counts, min/max,
  * length stats) live only in REAL footers, so the stats sweep must load
  * every footer of the table once. [[FooterCache]] makes that cheap while
  * the table fits its LRU capacity — but a table with more files than
  * `graft.footerCache.maxEntries` (default 16384; think 100k-file tables
  * at cluster scale) evicts itself, and every CBO-enabled query re-read
  * the whole footer set. Caching the MERGE instead of the inputs fixes
  * the scaling: the merged state is a few hundred bytes per column
  * regardless of file count, so repeat queries serve column stats with
  * ZERO footer IO and zero merge CPU at ANY table size.
  *
  * Keying: an order-independent digest of the scan's SURVIVING file set's
  * (path, mtime, len) triples plus the column-mapping state's value hash
  * — a rename or drop/re-add changes the logical view without touching
  * files, and must not hit the old column's numbers. "Surviving" is
  * deliberate, not an approximation of "snapshot": the merged stats must
  * reflect the files left after directory/file-stats pruning (a
  * region-partitioned query should see the pruned region's NDV and
  * min/max, not the table's), so two queries whose filters prune
  * DIFFERENT file subsets rightly occupy different entries and each pays
  * its own first sweep. The repeat-query win therefore engages per
  * (pruned set, mapping) — the dashboard/ETL shape of re-running the
  * same or same-partition queries — while a new snapshot (append,
  * compaction, DML) always mints new keys and old entries age out of
  * the table-level LRU. Column stats only steer plans (wrong is slow,
  * never incorrect), so a 64-bit digest collision is in the same benign
  * class as any estimate error — and is made vanishingly unlikely by
  * folding the file count in.
  */
object ColStatsCache {

  /** The merge of one logical column's stats across every footer of a
    * snapshot — exactly the accumulation state of
    * [[StrawScan.mergeColumn]]; type decoding and rowCount clamps happen
    * at assembly time, per query. */
  final case class Merged(
      regs: Array[Byte], sketchOk: Boolean, nulls: Long,
      minS: Long, maxS: Long, statsKind: Int, kindOk: Boolean,
      lenSum: Long, lenMax: Int, lenOk: Boolean, lenRows: Long)

  /** Snapshot-level LRU capacity. Overridable before first use via
    * `-Dgraft.colStatsCache.maxTables=N`; 0 disables caching. */
  @volatile var maxTables: Int =
    sys.props.get("graft.colStatsCache.maxTables").map(_.toInt).getOrElse(64)

  private val map = new java.util.LinkedHashMap[
      String, java.util.concurrent.ConcurrentHashMap[String, Merged]](
      16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String,
        java.util.concurrent.ConcurrentHashMap[String, Merged]]): Boolean =
      size() > maxTables
  }

  /** Count of column merges actually computed (misses) — the observable
    * for "the second query sweeps zero footers" specs. */
  val merges = new java.util.concurrent.atomic.AtomicLong()

  /** Order-independent digest of the snapshot + mapping state. Each
    * file's (path, mtime, len) hashes independently; per-file hashes
    * combine with XOR and sum (XOR alone would cancel duplicates), so
    * listing order cannot change the key. */
  def tableKey(files: Seq[(String, Long, Long)], mappingHash: Int): String = {
    var xorAcc = 0L
    var sumAcc = 0L
    files.foreach { case (p, m, l) =>
      var h = 1125899906842597L
      var i = 0
      while (i < p.length) { h = 31 * h + p.charAt(i); i += 1 }
      h = h * 0x9e3779b97f4a7c15L + m
      h = h * 0x9e3779b97f4a7c15L + l
      xorAcc ^= h
      sumAcc += h
    }
    java.lang.Long.toHexString(xorAcc) + ":" +
      java.lang.Long.toHexString(sumAcc) + ":" +
      files.length + ":" + Integer.toHexString(mappingHash)
  }

  /** The per-column map for one snapshot key (created on first sight).
    * Returns null when caching is disabled. */
  def forTable(key: String):
      java.util.concurrent.ConcurrentHashMap[String, Merged] = {
    if (maxTables <= 0) return null
    map.synchronized {
      var t = map.get(key)
      if (t == null) {
        t = new java.util.concurrent.ConcurrentHashMap[String, Merged]()
        map.put(key, t)
      }
      t
    }
  }

  def clear(): Unit = map.synchronized(map.clear())
  def size: Int = map.synchronized(map.size())
}
