package graft.sources.kv

/** The ONE reader/writer of a KV table's generation pointer. Both the
  * write path (write/KVStore.scala) and the scan path ([[KVLayout]])
  * resolve the live compacted generation through here, so the
  * durability rules live in exactly one place — and every byte moves
  * through the [[GraftFs]] storage seam, with the flip itself delegated
  * to the scheme-appropriate [[PointerStore]] protocol:
  *
  *  - POSIX/HDFS: `compacted/_graft_current.txt` holds
  *    `"<gen> <numBuckets>"` and is only ever REPLACED via tmp-file +
  *    atomic rename ([[RenamePointerStore]] — NIO `ATOMIC_MOVE`
  *    locally, namenode rename on HDFS); S3-class schemes: immutable
  *    generation-numbered pointer objects created with conditional PUT
  *    ([[CasPointerStore]] — no rename exists there). Either way a
  *    reader racing a compaction's publish sees the old pointer or the
  *    new one, never a truncated file (the reference's equivalent
  *    guarantee is HBase's atomic HFile bulk-load commit,
  *    HBaseTable.scala:316-344);
  *  - each generation directory carries its own
  *    `gen-<N>/_graft_meta.txt` completeness marker (written AFTER the
  *    parquet job commits, BEFORE the pointer flips). If the pointer is
  *    missing or unparseable — a crash between truncate and flush under
  *    the pre-atomic scheme, a disk-full partial write — the reader
  *    falls back to the newest generation whose marker exists and
  *    repairs the pointer, so both generation directories being intact
  *    means the table stays readable;
  *  - a legacy pre-generational layout (`compacted/_graft_buckets.txt`
  *    with bucket files directly under `compacted/`) is migrated in
  *    place to `gen-0` on first read instead of being silently invisible.
  */
object KVPointer {
  private val POINTER = "_graft_current.txt"
  private val GEN_META = "_graft_meta.txt"
  private val LEGACY = "_graft_buckets.txt"
  /** Serializes recovery/migration within this JVM; the pointer
    * protocol itself (atomic rename / conditional put, by scheme —
    * [[PointerStore]]) serializes across JVMs. */
  private val lock = new Object

  private def store(tablePath: String): PointerStore =
    PointerStore.forPath(tablePath)

  /** `(generation, numBuckets)` of the live compacted state, or None if
    * the table was never compacted. Malformed pointers recover; only a
    * truly absent compacted state returns None. */
  def read(tablePath: String): Option[(Int, Int)] =
    store(tablePath).readLatest(tablePath).orElse(lock.synchronized {
      // re-check under the lock: another thread may have just repaired
      // or migrated, or a racing publish may have landed a valid pointer
      store(tablePath).readLatest(tablePath)
        .orElse(recoverFromGenerations(tablePath))
        .orElse(migrateLegacy(tablePath))
    })

  /** Publish `gen` as the live generation through the scheme's
    * protocol ([[PointerStore]]): atomic rename where the filesystem
    * has one, immutable conditional-put objects where it does not.
    * Readers never observe a partial pointer, and a crash at any point
    * leaves either the old pointer or the new. Throws if ANOTHER
    * writer already published this generation (conditional-put loser:
    * the caller's compaction raced and its output is not the live
    * generation — silent last-writer-wins would orphan data). */
  def publish(tablePath: String, gen: Int, numBuckets: Int): Unit =
    if (!store(tablePath).publish(tablePath, gen, numBuckets))
      throw new java.util.ConcurrentModificationException(
        s"generation $gen of $tablePath was concurrently published by " +
          "another writer; this compaction lost the race")

  /** Completeness marker inside the generation directory — written after
    * the parquet job commits and before the pointer flips, so "marker
    * exists" ⇒ "directory is a complete generation" and recovery can
    * trust it. */
  def writeGenMeta(tablePath: String, gen: Int, numBuckets: Int): Unit =
    GraftFs.writeString(s"$tablePath/compacted/gen-$gen/$GEN_META",
      s"$numBuckets")

  /** Newest complete generation: prefer its `_graft_meta.txt`; for
    * generations written before the marker existed, accept parquet's
    * `_SUCCESS` and derive the bucket count from the bucket-file names
    * (`part-..._00003.c000...` → max id + 1; compaction writes one file
    * per bucket via repartition(n, key), so every bucket is present). */
  private def recoverFromGenerations(tablePath: String): Option[(Int, Int)] = {
    val gens = GraftFs.list(s"$tablePath/compacted")
      .filter(e => e.isDir && e.name.matches("gen-\\d+"))
      .sortBy(-_.name.stripPrefix("gen-").toInt)
    val recovered = gens.iterator.flatMap { d =>
      val gen = d.name.stripPrefix("gen-").toInt
      val fromMeta = GraftFs.readString(s"${d.path}/$GEN_META").flatMap(s =>
        try Some(s.trim.toInt) catch { case _: Exception => None })
      fromMeta.orElse {
        if (!GraftFs.exists(s"${d.path}/_SUCCESS")) None
        else derivedBucketCount(d.path)
      }.map(n => (gen, n))
    }.buffered.headOption
    recovered.foreach { case (g, n) =>
      // Repair is best-effort AND must never regress a racing publish:
      // between our failed parse and here, a compaction in another JVM
      // may have atomically published gen-N+1 (which a directory scan
      // taken earlier cannot see). Re-parse immediately before the
      // repair and skip it unless the pointer is still invalid or
      // strictly older than what we recovered.
      val live = store(tablePath).readLatest(tablePath)
      if (live.forall(_._1 < g))
        try store(tablePath).publish(tablePath, g, n)
        catch { case _: Exception => () }
    }
    recovered
  }

  private def derivedBucketCount(genDir: String): Option[Int] = {
    val pat = "_(\\d{5})\\.".r
    val ids = GraftFs.dataFiles(genDir)
      .flatMap(e => pat.findFirstMatchIn(e.name).map(_.group(1).toInt))
    if (ids.isEmpty) None else Some(ids.max + 1)
  }

  /** Pre-generational layout → `gen-0`, in place: move the bucket files
    * down, write the marker, flip the pointer, drop the legacy marker.
    * Spark bucket-file names are preserved, so [[KVLayout]] attributes
    * the migrated files to their buckets unchanged. */
  private def migrateLegacy(tablePath: String): Option[(Int, Int)] = {
    val cd = s"$tablePath/compacted"
    val legacy = s"$cd/$LEGACY"
    if (!GraftFs.exists(legacy)) return None
    val n = GraftFs.readString(legacy).flatMap(s =>
      try Some(s.trim.toInt) catch { case _: Exception => None })
      .getOrElse(throw new IllegalStateException(
        s"graft KV table at $tablePath has a legacy compacted layout " +
          s"with an unreadable $LEGACY — cannot migrate"))
    val gen0 = s"$cd/gen-0"
    GraftFs.mkdirs(gen0)
    GraftFs.list(cd).filter(e => !e.isDir &&
      e.name != LEGACY && e.name != POINTER && !e.name.endsWith(".tmp"))
      .foreach(e => GraftFs.move(e.path, s"$gen0/${e.name}"))
    writeGenMeta(tablePath, 0, n)
    publish(tablePath, 0, n)
    GraftFs.delete(legacy, recursive = false)
    Some((0, n))
  }
}
