package graft.spark

import org.apache.hadoop.fs.{FileSystem, Path}
import org.roaringbitmap.RoaringBitmap

/** Deletion vectors: the merge-on-read half of row-level DELETE/UPDATE.
  *
  * A deletion vector (DV) is a per-data-file sidecar holding the Roaring
  * bitmap of DEAD row ordinals (0-based position within the file). A DELETE
  * that touches 10 rows of a 1 GB file writes a few-hundred-byte sidecar and
  * one log action instead of rewriting the gigabyte — at 100 TB that is the
  * difference between a GDPR takedown costing seconds and costing a full
  * table rewrite. Readers subtract the bitmap at scan time (row and columnar
  * paths both); compaction materializes DVs away by rewriting the survivors
  * and dropping the sidecar.
  *
  * Lifecycle and invariants:
  *  - A DV file is IMMUTABLE once referenced by a committed log version. A
  *    later delete on the same file writes a NEW sidecar (the union of the
  *    old bitmap and the newly-dead ordinals) and the log's `D` action
  *    replaces the reference atomically; the superseded sidecar STAYS on
  *    disk until [[StrawLog.vacuumUnreferenced]]'s age-based sweep — it is
  *    tiny, and within that window time travel to the versions that
  *    referenced it, RESTORE back to them, and the change feed's
  *    before-diff all keep working. Past the sweep they fail loudly at
  *    read time, never mis-answer. (A fully-dead file's sidecar goes
  *    eagerly WITH its data bytes — retaining it alone would serve
  *    nothing.)
  *  - Sidecars live next to their data file as `<dataFileName>.<uuid>.dv`.
  *    The `.dv` extension keeps them invisible to data-file listings (only
  *    `*.strb` is data), so a directory-WALKING reader (log deleted — the
  *    external-writer escape hatch) sees the raw files WITHOUT deletes
  *    applied, exactly like dropping a Delta log exposes raw parquet.
  *  - The bitmap is written uncommitted-visible (no stage suffix): only the
  *    log reference makes it live, so a crash before the commit leaves an
  *    unreferenced sidecar for [[StrawLog.vacuumUnreferenced]].
  *
  * File layout (little-endian): 8-byte magic `GRAFTDV1`, i64 cardinality,
  * i32 serialized-bitmap length, the RoaringBitmap's portable serialization.
  * Ordinals are 32-bit: the row-level ops reject a table with a data file
  * holding more than Int.MaxValue rows (the writer's file rolling makes
  * such files unreachable in practice).
  */
object DeletionVector {
  val Extension = ".dv"
  private val Magic: Array[Byte] = "GRAFTDV1".getBytes("UTF-8")

  /** One committed DV reference: the sidecar's absolute path, its byte
    * length (read-validation key — sidecars are immutable, so (path, len)
    * identifies content), and the bitmap's cardinality (dead-row count,
    * used by planning and footer-only COUNT without opening the sidecar). */
  final case class DvInfo(path: String, len: Long, cardinality: Long)

  /** Sidecar reads served from cache or disk — observability for tests. */
  val loads = new java.util.concurrent.atomic.AtomicLong()

  // (path, len)-keyed LRU: sidecars are immutable once committed, and a
  // replacement arrives under a fresh uuid name, so the key never aliases.
  // Bitmaps are shared read-only; callers must not mutate them.
  private val cache =
    new java.util.LinkedHashMap[(String, Long), RoaringBitmap](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), RoaringBitmap]): Boolean =
        size() > 256
    }

  /** Write `dead` as a new sidecar next to `dataPath`; returns the committed
    * reference. The caller records it in the log — until then the file is
    * unreferenced debris. */
  def write(f: FileSystem, dataPath: Path, dead: RoaringBitmap): DvInfo = {
    dead.runOptimize()
    val name = s"${dataPath.getName}.${java.util.UUID.randomUUID().toString.take(12)}$Extension"
    val p = new Path(dataPath.getParent, name)
    val bmpLen = dead.serializedSizeInBytes()
    val buf = java.nio.ByteBuffer.allocate(Magic.length + 12 + bmpLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(Magic)
    buf.putLong(dead.getLongCardinality)
    buf.putInt(bmpLen)
    dead.serialize(buf)
    val os = f.create(p, true)
    var ok = false
    try { os.write(buf.array(), 0, buf.position()); ok = true }
    finally {
      os.close()
      if (!ok) f.delete(p, false): Unit
    }
    val st = f.getFileStatus(p)
    DvInfo(f.makeQualified(p).toString, st.getLen, dead.getLongCardinality)
  }

  /** Load a committed sidecar's bitmap (cached by (path, len)). Throws on a
    * missing or corrupt sidecar — a DV the snapshot references but cannot
    * serve must fail the scan loudly, never resurrect deleted rows. */
  def read(path: String, len: Long): RoaringBitmap = {
    val key = (path, len)
    val hit = cache.synchronized(cache.get(key))
    if (hit != null) return hit
    loads.incrementAndGet()
    val bytes = StrawIO.withInput(path)(in => in.readFully(0, len.toInt))
    require(bytes.length > Magic.length + 12 &&
      java.util.Arrays.equals(bytes, 0, Magic.length, Magic, 0, Magic.length),
      s"strawboat: not a deletion vector: $path")
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.position(Magic.length)
    val card = buf.getLong
    val bmpLen = buf.getInt
    require(bmpLen >= 0 && Magic.length + 12 + bmpLen <= bytes.length,
      s"strawboat: corrupt deletion vector ($bmpLen bitmap bytes in ${bytes.length}): $path")
    val bmp = new RoaringBitmap()
    bmp.deserialize(buf)
    require(bmp.getLongCardinality == card,
      s"strawboat: deletion vector cardinality mismatch ($card header vs " +
        s"${bmp.getLongCardinality} bitmap): $path")
    cache.synchronized(cache.put(key, bmp))
    bmp
  }

  def clearCache(): Unit = cache.synchronized(cache.clear())
}
