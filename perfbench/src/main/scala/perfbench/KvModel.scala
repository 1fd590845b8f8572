package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

/** In-memory latest-wins model of a KV table, kept by the seeded
  * generator: key -> (family, qualifier) -> (value, ts). Ops are
  * applied in timestamp order, so "latest wins" is "last applied wins"
  * and a tombstone simply removes what it masks. Immutable, so the
  * state as of an earlier cutoff is just an older instance. */
final case class KvModel(cells: Map[Long, Map[(String, String), (String, Long)]]) {
  import KvModel._

  def put(key: Long, family: String, qualifier: String, value: String, ts: Long): KvModel =
    KvModel(cells.updated(key,
      cells.getOrElse(key, Map.empty).updated((family, qualifier), (value, ts))))

  /** A tombstone: whole row (family null), family (qualifier null) or cell. */
  def delete(key: Long, family: String, qualifier: String): KvModel =
    cells.get(key) match {
      case None => this
      case Some(row) =>
        val kept =
          if (family == null) Map.empty[(String, String), (String, Long)]
          else if (qualifier == null) row.filter(_._1._1 != family)
          else row - ((family, qualifier))
        KvModel(if (kept.isEmpty) cells - key else cells.updated(key, kept))
    }

  def live: Iterator[Cell] = cells.iterator.flatMap { case (k, row) =>
    row.iterator.map { case ((f, q), (v, ts)) => Cell(k, f, q, v, ts) }
  }

  def size: Long = cells.valuesIterator.map(_.size.toLong).sum

  /** family -> (live cells, sum of crc32 over key|family|qualifier|value):
    * what the `resolve` and `asof` ops compute in Spark. */
  def byFamily: Map[String, (Long, Long)] = sums(live.map(c => c.family -> c.crc))

  /** change_type -> (rows, sum of crc32 over key|family|qualifier|new value,
    * "" for a delete): the net changes from `before` to this state, with
    * `KVTable.changesBetween`'s rule that a live version changed when its
    * ts or value did. */
  def changesSince(before: KvModel): Map[String, (Long, Long)] = {
    val now = live.map(c => (c.key, c.family, c.qualifier) -> c).toMap
    val old = before.live.map(c => (c.key, c.family, c.qualifier) -> c).toMap
    val ins = now.iterator.collect { case (k, c) if !old.contains(k) => "insert" -> c.crc }
    val upd = now.iterator.collect {
      case (k, c) if old.get(k).exists(o => o.ts != c.ts || o.value != c.value) =>
        "update" -> c.crc
    }
    val del = old.iterator.collect {
      case (k, o) if !now.contains(k) => "delete" -> crc(s"${o.key}|${o.family}|${o.qualifier}|")
    }
    sums(ins ++ upd ++ del)
  }

  /** Logical bytes of the live cells: 8-byte key and ts plus the strings. */
  def logicalBytes: Long = live.map(c => cellBytes(c.family, c.qualifier, c.value)).sum
}

object KvModel {
  val empty: KvModel = KvModel(Map.empty)

  final case class Cell(key: Long, family: String, qualifier: String, value: String, ts: Long) {
    def crc: Long = KvModel.crc(s"$key|$family|$qualifier|$value")
  }

  def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  def cellBytes(family: String, qualifier: String, value: String): Long =
    16L + Seq(family, qualifier, value).map(s => if (s == null) 0 else s.getBytes(UTF_8).length).sum

  private def sums(xs: Iterator[(String, Long)]): Map[String, (Long, Long)] =
    xs.foldLeft(Map.empty[String, (Long, Long)]) { case (m, (k, c)) =>
      val (n, s) = m.getOrElse(k, (0L, 0L))
      m.updated(k, (n + 1, s + c))
    }
}
