package graft.sources.kv

/** Storage-scheme-appropriate protocol for the generation pointer.
  *
  * The pointer is the ONE mutable piece of table state, so its
  * durability story must match what the object store can actually
  * promise:
  *
  *  - POSIX / HDFS have an atomic rename, so a single mutable pointer
  *    file replaced via tmp + rename is torn-read-free
  *    ([[RenamePointerStore]] — the [[GraftFs.atomicReplace]] path).
  *  - S3-class stores have NO atomic rename (rename = copy + delete
  *    with a visible gap) but DO have atomic single-object PUT and
  *    conditional create (`If-None-Match: *`). [[CasPointerStore]]
  *    therefore never mutates anything: each publish creates an
  *    IMMUTABLE, generation-numbered pointer object via put-if-absent,
  *    and readers resolve the max-numbered object. Torn reads are
  *    impossible (objects appear atomically or not at all), and a
  *    publish race surfaces as an explicit loser instead of a silent
  *    last-writer-wins (S3 listings have been strongly consistent —
  *    list-after-write — since 2020, so the max is the truth).
  *
  * The scheme decides ([[PointerStore.forPath]]); both stores speak
  * through [[GraftFs]], so local tests drive the exact S3 protocol
  * (create-exclusive is the local emulation of conditional PUT).
  */
trait PointerStore {
  /** Publish `gen` as live. Returns false if ANOTHER writer already
    * published this generation (CAS loser — the caller's compaction
    * raced and must not assume its files are the live ones). */
  def publish(tablePath: String, gen: Int, numBuckets: Int): Boolean
  /** The live `(generation, numBuckets)`, or None if never published. */
  def readLatest(tablePath: String): Option[(Int, Int)]
}

object PointerStore {
  /** Schemes with no atomic rename — pointer flips must be CAS. */
  val NoRenameSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "wasb", "abfs")

  def schemeOf(path: String): Option[String] =
    Option(new org.apache.hadoop.fs.Path(path).toUri.getScheme)

  def forScheme(scheme: Option[String]): PointerStore =
    if (scheme.exists(NoRenameSchemes.contains)) CasPointerStore
    else RenamePointerStore

  /** Operational override (`-Dgraft.kv.pointer.protocol=cas|rename`)
    * for filesystems whose scheme lies about its semantics — e.g. NFS
    * mounts exposed as `file://` where rename atomicity is dubious, or
    * an S3-compatible store mounted under a custom scheme. Tests also
    * use it to drive the full table lifecycle over the CAS protocol. */
  def forPath(tablePath: String): PointerStore =
    sys.props.get("graft.kv.pointer.protocol") match {
      case Some("cas")    => CasPointerStore
      case Some("rename") => RenamePointerStore
      case _              => forScheme(schemeOf(tablePath))
    }

  private[kv] def parsePair(s: String): Option[(Int, Int)] =
    try {
      val parts = s.trim.split(" ")
      Some((parts(0).toInt, parts(1).toInt))
    } catch { case _: Exception => None }
}

/** Mutable single-file pointer, replaced atomically (POSIX/HDFS). */
object RenamePointerStore extends PointerStore {
  private[kv] def pointerPath(tablePath: String) =
    s"$tablePath/compacted/_graft_current.txt"

  override def publish(tablePath: String, gen: Int, numBuckets: Int): Boolean = {
    GraftFs.atomicReplace(pointerPath(tablePath), s"$gen $numBuckets")
    true // rename-overwrite cannot observe a loser; last writer wins
  }

  override def readLatest(tablePath: String): Option[(Int, Int)] =
    GraftFs.readString(pointerPath(tablePath))
      .flatMap(PointerStore.parsePair)
}

/** Immutable generation-numbered pointer objects, created with
  * put-if-absent; the live generation is the max-numbered object.
  * The S3-class protocol — no rename, no overwrite, no torn state. */
object CasPointerStore extends PointerStore {
  private val Name = "ptr-(\\d{10})\\.txt".r

  private[graft] def ptrDir(tablePath: String) =
    s"$tablePath/compacted/_graft_ptr"
  private def ptrPath(tablePath: String, gen: Int) =
    f"${ptrDir(tablePath)}/ptr-$gen%010d.txt"

  /** The whole protocol rests on `create(overwrite=false)` being an
    * atomic put-if-absent. On S3A that is only true on Hadoop ≥ 3.4.1
    * WITH `fs.s3a.create.conditional.enabled` — older clients silently
    * degrade to exists-check-then-PUT, which would let two
    * same-generation publishers both believe they won. The decision is
    * keyed on `hasPathCapability` first: on a capable client the
    * enabled flag surfaces as the path capability, while on an older
    * client the flag is a no-op, so trusting the flag ALONE would let
    * exactly the broken configuration through (pure decision split
    * out for the spec).
    *
    * Indeterminate probes: if `hasPathCapability` itself THREW (some
    * S3-compatible stores and older shims reject capability queries
    * outright — the probe then says nothing about conditional create),
    * the enable flag in the Hadoop conf is accepted as the operator's
    * word. A CLEAN `false` with the flag set still fails fast —
    * a capable 3.4.1+ client advertises the capability when the
    * feature is on — but the failure message documents both overrides
    * (`-Dgraft.kv.pointer.trustConditionalCreate=true` for builds that
    * genuinely implement conditional create without advertising it,
    * `-Dgraft.kv.pointer.protocol=rename` for stores with real atomic
    * rename), so a non-standard deployment is a config line, not a
    * dead publish path. */
  private[graft] def conditionalCreateUnsupported(scheme: String,
      hasCapability: Boolean): Boolean =
    scheme.startsWith("s3") && !hasCapability

  /** Probe outcome → verdict, pure for the spec: `capability` is
    * None when the probe threw. */
  private[graft] def probeDecision(scheme: String,
      capability: Option[Boolean], flagEnabled: Boolean,
      operatorTrust: Boolean): Boolean = capability match {
    case Some(cap) =>
      conditionalCreateUnsupported(scheme, cap) && !operatorTrust
    case None => // indeterminate probe: defer to the operator's flag
      scheme.startsWith("s3") && !flagEnabled && !operatorTrust
  }

  /** Per-scheme probe VERDICT (None = pass, Some(msg) = fail), not just
    * "was probed": a failed probe must keep failing every retried
    * publish in this JVM, or a caller that catches and loops (as bench
    * appenders do) would silently fall through to the non-atomic path
    * the check exists to block. */
  private val probeVerdict =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()

  private[graft] def resetProbeForTests(): Unit = probeVerdict.clear()

  private def probeConditionalCreate(tablePath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(ptrDir(tablePath))
    val fs = GraftFs.fsFor(p)
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    val verdict = probeVerdict.computeIfAbsent(scheme, _ => {
      val cap =
        try Some(fs.hasPathCapability(p, "fs.s3a.capability.conditional.create"))
        catch { case _: Exception => None } // probe itself unavailable
      val flagEnabled =
        fs.getConf != null &&
          fs.getConf.getBoolean("fs.s3a.create.conditional.enabled", false)
      val operatorTrust =
        sys.props.get("graft.kv.pointer.trustConditionalCreate")
          .contains("true")
      if (probeDecision(scheme, cap, flagEnabled, operatorTrust))
        Some(
          s"CAS pointer protocol selected for scheme '$scheme', but the " +
            "filesystem does not advertise atomic conditional create: " +
            "S3A needs Hadoop >= 3.4.1 with " +
            "fs.s3a.create.conditional.enabled=true. Without it, " +
            "create(overwrite=false) is a non-atomic exists-then-PUT and " +
            "two same-generation publishers could both win. Enable the " +
            "flag; if this build implements conditional create without " +
            "advertising the capability, set " +
            "-Dgraft.kv.pointer.trustConditionalCreate=true; or force " +
            "-Dgraft.kv.pointer.protocol=rename if the store actually " +
            "has atomic rename.")
      else None
    })
    verdict.foreach(msg => throw new IllegalStateException(msg))
  }

  override def publish(tablePath: String, gen: Int, numBuckets: Int): Boolean = {
    probeConditionalCreate(tablePath)
    val won = GraftFs.createExclusive(ptrPath(tablePath, gen),
      s"$gen $numBuckets")
    if (won) {
      // best-effort retirement of pointers older than gen-1: readers
      // resolve the MAX object, so removing strictly-older ones can
      // never change what they see (gen and gen-1 are kept, matching
      // the generation-directory retention window)
      GraftFs.list(ptrDir(tablePath)).foreach { e =>
        e.name match {
          case Name(g) if g.toInt < gen - 1 =>
            try GraftFs.delete(e.path, recursive = false)
            catch { case _: Exception => () }
          case _ => ()
        }
      }
    }
    won
  }

  override def readLatest(tablePath: String): Option[(Int, Int)] =
    latest(() => GraftFs.list(ptrDir(tablePath)).flatMap(e => e.name match {
      case Name(g) => Some((g.toInt, e.path))
      case _ => None // partial-upload tmp junk, foreign files: ignored
    }))

  /** Read the max-numbered pointer of `listing()`. Objects are
    * immutable, but a publish of `g+2` or later retires `g` — the max
    * of a stale listing — between list and read. Then a newer pointer
    * exists, so list again; an older entry of the stale listing could
    * name a generation that is already pruned. */
  @annotation.tailrec
  private[graft] def latest(listing: () => Seq[(Int, String)]): Option[(Int, Int)] =
    listing().maxByOption(_._1) match {
      case None => None
      case Some((_, p)) => GraftFs.readString(p) match {
        case Some(s) => PointerStore.parsePair(s)
        case None => latest(listing)
      }
    }
}
