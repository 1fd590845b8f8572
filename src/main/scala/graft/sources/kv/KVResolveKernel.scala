package graft.sources.kv

import scala.collection.mutable

import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** Bucket-local latest-wins resolve at one or more ts cutoffs — the
  * executor-side copy of `KVTable.resolve` (write/KVStore.scala) that
  * both the resolved scan ([[KVResolvedPartitionReader]], one cutoff
  * `Long.MaxValue`) and the CDC replay ([[KVCdcPartitionReader]], the
  * window's two cutoffs) run on. Per (key, family, qualifier) and per
  * cutoff the max-(ts, value) non-tombstone cell at or below the cutoff
  * wins; row / family / cell tombstones at or below the cutoff mask
  * winners at or below their ts; null-ts rows never take part. A row
  * feeds every cutoff at or above its ts, so one pass over the bucket's
  * cells builds every cutoff's state. The three resolve paths (this
  * kernel, `KVTable.resolve`, `KVTable.changeLog`) must agree
  * cell-for-cell.
  *
  * CPU shape: batches come straight from [[KVColumnarPartitionReader]];
  * family/qualifier strings are interned to dense ids once per distinct
  * value, and winner/tombstone state lives in open-addressing tables
  * keyed by (key, key-is-null, long cellId = famId << 32 | qualId) with
  * primitive parallel arrays, one ts (and, for winners, value) per
  * cutoff. A NULL key is its own coordinate, apart from a real
  * `Long.MinValue` key. Values are copied out of the (reused) column
  * vectors only when a row actually wins its cell. State is one entry
  * per cell of the bucket — the footprint of a hash aggregate over the
  * bucket; bucket count is the sizing lever at scale.
  *
  * @param cuts ascending ts cutoffs (inclusive) */
final class KVResolveKernel(cuts: Array[Long]) {
  require(cuts.nonEmpty && cuts.sameElements(cuts.sorted),
    s"cutoffs must be ascending: ${cuts.mkString(",")}")
  private val nc = cuts.length

  /** fam/qual → dense id; id 0 is reserved for SQL NULL. Lookup is one
    * content-hash probe on the transient vector slice; the name is
    * cloned to heap only on first sight. */
  private val names = mutable.ArrayBuffer[UTF8String](null)
  private val nameIds = new java.util.HashMap[UTF8String, Integer]()
  private def intern(s: UTF8String): Int =
    if (s == null) 0
    else {
      val got = nameIds.get(s)
      if (got != null) got.intValue()
      else {
        val c = s.clone()
        val id = names.size
        names += c
        nameIds.put(c, Integer.valueOf(id))
        id
      }
    }

  /** Open-addressing table keyed by (key-is-null, key, coordinate) with
    * `nc` ts slots per entry (entry s, cutoff c at `s * nc + c`;
    * Long.MinValue = absent — a real MinValue-ts winner is
    * indistinguishable, and harmlessly so: the strict `ts > delTs`
    * liveness test can never pass at MinValue) and, for the winner
    * table, as many value slots. */
  private final class Slots(initPow: Int, withVals: Boolean) {
    private[this] var cap = 1 << initPow
    private[this] var mask = cap - 1
    private[this] var n = 0
    var used = new Array[Boolean](cap)
    var kNull = new Array[Boolean](cap)
    var kL = new Array[Long](cap)
    var kC = new Array[Long](cap)
    var ts = new Array[Long](cap * nc)
    var vs: Array[UTF8String] =
      if (withVals) new Array[UTF8String](cap * nc) else null

    def capacity: Int = cap

    private def idx(kn: Boolean, k: Long, c: Long): Int = {
      var h = (if (kn) 0x632BE59BD9B4E019L else k) ^
        (c * 0x9E3779B97F4A7C15L)
      h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33
      var s = h.toInt & mask
      while (used(s) && (kNull(s) != kn || kL(s) != k || kC(s) != c))
        s = (s + 1) & mask
      s
    }

    /** Entry of (kn, k, c), inserted empty (every cutoff absent) if
      * missing. A null key is passed as kn = true, k = 0. */
    def slot(kn: Boolean, k: Long, c: Long): Int = {
      var s = idx(kn, k, c)
      if (!used(s)) {
        if ((n + 1) * 4 > cap * 3) { grow(); s = idx(kn, k, c) }
        used(s) = true; kNull(s) = kn; kL(s) = k; kC(s) = c
        java.util.Arrays.fill(ts, s * nc, s * nc + nc, Long.MinValue)
        n += 1
      }
      s
    }

    /** ts of (kn, k, c) at cutoff `cut`; MinValue when never seen. */
    def tsOf(kn: Boolean, k: Long, c: Long, cut: Int): Long = {
      val s = idx(kn, k, c)
      if (used(s)) ts(s * nc + cut) else Long.MinValue
    }

    private def grow(): Unit = {
      val oU = used; val oN = kNull; val oK = kL; val oC = kC
      val oT = ts; val oV = vs
      val oCap = cap
      cap <<= 1; mask = cap - 1
      used = new Array[Boolean](cap); kNull = new Array[Boolean](cap)
      kL = new Array[Long](cap); kC = new Array[Long](cap)
      ts = new Array[Long](cap * nc)
      if (withVals) vs = new Array[UTF8String](cap * nc)
      var s = 0
      while (s < oCap) {
        if (oU(s)) {
          val d = idx(oN(s), oK(s), oC(s))
          used(d) = true; kNull(d) = oN(s); kL(d) = oK(s); kC(d) = oC(s)
          System.arraycopy(oT, s * nc, ts, d * nc, nc)
          if (withVals) System.arraycopy(oV, s * nc, vs, d * nc, nc)
        }
        s += 1
      }
    }
  }

  // winner table keyed by cellId; tombstone tables keyed by 0 / famId /
  // cellId — exactly the row/family/cell mask granularities of
  // `KVTable.resolve`
  private val winners = new Slots(13, withVals = true)
  private val rowDel = new Slots(10, withVals = false)
  private val famDel = new Slots(10, withVals = false)
  private val cellDel = new Slots(10, withVals = false)

  private val TOMB_ROW = UTF8String.fromString("row")
  private val TOMB_FAMILY = UTF8String.fromString("family")

  /** Same-ts tie-break on VALUE in UTF-8 BINARY order, nulls smallest —
    * byte-identical to the library resolve's `value desc_nulls_last`
    * over Spark strings (write/KVStore.scala). Java String.compareTo
    * would order by UTF-16 code units, which disagrees on
    * supplementary-plane characters. */
  private def cmpValue(a: UTF8String, b: UTF8String): Int =
    if (a == null && b == null) 0 else if (a == null) -1
    else if (b == null) 1 else a.compareTo(b)

  // higher ts wins; on equal ts the larger value wins (first-seen kept
  // on a full tie)
  private def offer(i: Int, ts: Long, v: UTF8String): Unit = {
    val ct = winners.ts(i)
    if (ts > ct || (ts == ct && cmpValue(v, winners.vs(i)) > 0)) {
      winners.ts(i) = ts
      winners.vs(i) = if (v == null) null else v.clone()
    }
  }

  private def bump(m: Slots, i: Int, ts: Long): Unit =
    if (ts > m.ts(i)) m.ts(i) = ts

  private def str(b: ColumnarBatch, col: Int, r: Int): UTF8String = {
    val c = b.column(col)
    if (c.isNullAt(r)) null else c.getUTF8String(r)
  }

  /** Feeds one batch of cells in `CELL_SCHEMA` column order. */
  def feed(cb: ColumnarBatch): Unit = {
    val rows = cb.numRows()
    val cKey = cb.column(0); val cTs = cb.column(4); val cTomb = cb.column(5)
    var r = 0
    while (r < rows) {
      if (!cTs.isNullAt(r)) {
        val ts = cTs.getLong(r)
        // first cutoff this row feeds; it feeds every later one too
        var c0 = 0
        while (c0 < nc && ts > cuts(c0)) c0 += 1
        if (c0 < nc) {
          val kn = cKey.isNullAt(r)
          val key = if (kn) 0L else cKey.getLong(r)
          val famId = intern(str(cb, 1, r))
          def cellId = (famId.toLong << 32) | intern(str(cb, 2, r))
          if (cTomb.isNullAt(r)) {
            val v = str(cb, 3, r)
            val s = winners.slot(kn, key, cellId)
            var c = c0
            while (c < nc) { offer(s * nc + c, ts, v); c += 1 }
          } else {
            val tomb = cTomb.getUTF8String(r)
            val m =
              if (tomb.equals(TOMB_ROW)) rowDel
              else if (tomb.equals(TOMB_FAMILY)) famDel
              else cellDel
            val s = m.slot(kn, key,
              if (m eq rowDel) 0L else if (m eq famDel) famId.toLong else cellId)
            var c = c0
            while (c < nc) { bump(m, s * nc + c, ts); c += 1 }
          }
        }
      }
      r += 1
    }
  }

  /** Every cell some cutoff saw a version of, as winner-table entries:
    * a cell live at any cutoff is among them. */
  def cells: Iterator[Int] =
    Iterator.range(0, winners.capacity).filter(winners.used(_))

  /** Whether cell `s`'s winner at cutoff `c` exists and is above every
    * row / family / cell tombstone at that cutoff. */
  def isLive(s: Int, c: Int): Boolean = {
    val kn = winners.kNull(s); val k = winners.kL(s); val cell = winners.kC(s)
    val del = math.max(rowDel.tsOf(kn, k, 0L, c),
      math.max(famDel.tsOf(kn, k, cell >>> 32, c), cellDel.tsOf(kn, k, cell, c)))
    winners.ts(s * nc + c) > del
  }

  def key(s: Int): java.lang.Long =
    if (winners.kNull(s)) null else java.lang.Long.valueOf(winners.kL(s))
  def family(s: Int): UTF8String = names((winners.kC(s) >>> 32).toInt)
  def qualifier(s: Int): UTF8String = names(winners.kC(s).toInt)
  def ts(s: Int, c: Int): Long = winners.ts(s * nc + c)
  def value(s: Int, c: Int): UTF8String = winners.vs(s * nc + c)
}

object KVResolveKernel {
  /** Replays bucket partition `p`'s cells through a kernel at `cuts`;
    * `filters` only prune parquet row groups, so they must be
    * resolve-safe (never drop one row of a resolve group the caller
    * emits — a key predicate, or `ts <= cuts.last`). */
  def run(p: KVBucketPartition, cuts: Array[Long], filters: Array[Filter],
          hconf: org.apache.spark.util.SerializableConfiguration): KVResolveKernel = {
    val k = new KVResolveKernel(cuts)
    val raw = new KVColumnarPartitionReader(p, KVBatchTable.CELL_SCHEMA,
      filters, None, hconf)
    try while (raw.next()) k.feed(raw.get()) finally raw.close()
    k
  }
}
