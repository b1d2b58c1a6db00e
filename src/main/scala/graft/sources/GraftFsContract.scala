package graft.sources

/** The filesystem contract every graft COMMIT primitive trusts, made
  * explicit and enforced: the optimistic version claim
  * ([[GraftTableLog.writeSnapshot]]), branch-head CAS / tombstone drop
  * ([[GraftTableLog.casBranchHead]] / `casDropBranch`), the rewrite
  * lock ([[GraftConflicts.withRewriteLock]]), and the shrink-then-grow
  * file swaps all rest on TWO primitives:
  *
  *   1. atomic no-overwrite CREATE (`fs.create(path, false)` — exactly
  *      one of N concurrent creators wins);
  *   2. atomic same-filesystem RENAME.
  *
  * Both hold on HDFS and local filesystems. Neither holds on the plain
  * object-store connectors: S3A's create is check-then-PUT (last
  * writer wins silently) and its rename is copy+delete; GS/ABFS/WASB
  * have related caveats. On such a store the claim is NOT a claim —
  * two committers can both think they own a version and one commit
  * silently vanishes, which is strictly worse than refusing. The
  * object-store port of this log is a MANIFEST FLIP against a
  * conditional-write primitive (S3 If-None-Match, DynamoDB lock, the
  * Delta LogStore discipline) — acknowledged at the design level
  * ([[GraftTableLog]]'s branch notes) and out of scope for the local
  * build, so the honest behavior is to REFUSE schemes known to break
  * the contract rather than corrupt quietly.
  *
  * `-Dgraft.fs.trustAtomicCreate=true` overrides for deployments that
  * front such a store with a consistency layer providing both
  * primitives (e.g. a mounted FUSE layer or a vendor FS shim). */
object GraftFsContract {

  /** URI schemes whose stock Hadoop connectors do NOT provide atomic
    * no-overwrite create + atomic rename. */
  private val NonAtomicSchemes = Set(
    "s3", "s3a", "s3n",            // S3: PUT races, copy+delete rename
    "gs",                          // GCS connector: check-then-act create
    "wasb", "wasbs",               // Azure blob (non-HNS)
    "abfs", "abfss",               // ADLS gen2 (rename caveats under load)
    "oss", "cos", "obs", "swift")  // other object stores

  private def trusted: Boolean =
    sys.props.get("graft.fs.trustAtomicCreate").exists(_.toBoolean)

  /** Refuse a commit-path operation on a table whose scheme is a known
    * non-atomic store (unless explicitly overridden). Called once per
    * commit — a string check, no I/O. */
  def requireAtomicCommitFs(table: String): Unit = {
    if (trusted) return
    val scheme = Option(
      new org.apache.hadoop.fs.Path(table).toUri.getScheme)
      .map(_.toLowerCase(java.util.Locale.ROOT))
    scheme.filter(NonAtomicSchemes.contains).foreach { s =>
      throw new UnsupportedOperationException(
        s"graft: transactional commits under $table refuse on '$s://' — " +
          "the optimistic claim needs atomic no-overwrite create and " +
          "atomic rename, which this store's connector does not " +
          "provide; a silent lost commit would be the failure mode. " +
          "Run on HDFS/local, front the store with a consistency " +
          "layer and set -Dgraft.fs.trustAtomicCreate=true, or use a " +
          "conditional-write manifest service (the Delta LogStore / " +
          "Iceberg catalog discipline).")
    }
  }

  private def isLocal(fs: org.apache.hadoop.fs.FileSystem): Boolean =
    fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]

  /** Claim `p` by TRUE O_EXCL create when it lives on the local
    * filesystem; returns false (no claim attempted) elsewhere.
    *
    * Why: Hadoop's LOCAL `create(path, overwrite = false)` is
    * check-then-act — two JVMs can both pass the exists check and
    * silently overwrite each other's claim. Observed in the wild: a
    * full-suite CommitRaceSpec run where six appends produced FIVE
    * versions with both writers exiting clean — one snapshot claim
    * was silently eaten by the other's. java.nio `createFile` is
    * O_EXCL at the syscall level, so exactly one of N concurrent
    * claimers wins and the losers get FileAlreadyExistsException (an
    * IOException — the same signal the claim loops already retry on).
    * Cluster filesystems don't take this path: their metadata service
    * arbitrates `create(…, false)` atomically. */
  def claimLocalExclusive(p: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Boolean = {
    val fs = p.getFileSystem(conf)
    if (!isLocal(fs)) return false
    val local = java.nio.file.Paths.get(p.toUri.getPath)
    if (local.getParent != null)
      java.nio.file.Files.createDirectories(local.getParent)
    java.nio.file.Files.createFile(local) // O_EXCL — throws on loss
    true
  }

  /** Exclusive create with a cross-process-atomic claim on every
    * filesystem: local paths claim via [[claimLocalExclusive]] then
    * reopen the (now owned) file for writing; cluster filesystems use
    * the connector's own atomic `create(…, false)`. Drop-in for the
    * claim sites that previously called `fs.create(p, false)` —
    * throws the same FileAlreadyExistsException/IOException family on
    * a lost claim. */
  def exclusiveCreate(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FSDataOutputStream =
    if (isLocal(fs)) {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      if (local.getParent != null)
        java.nio.file.Files.createDirectories(local.getParent)
      java.nio.file.Files.createFile(local) // O_EXCL — throws on loss
      fs.create(p, true) // overwrite the zero-byte file we own
    } else fs.create(p, false)

  /** A small metadata file's whole body (ref, MV state, lock token),
    * UTF-8 and trimmed. */
  def readBody(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try readToEnd(in) finally in.close()
  }

  /** `in` to EOF, UTF-8 and trimmed. `InputStream.read` may legally
    * return fewer bytes than available (non-local filesystems), and a
    * single read can cut a body into a different VALID one (`57\n112`
    * read as `57\n11`) — loop to EOF. */
  def readToEnd(in: java.io.InputStream): String = {
    val out = new java.io.ByteArrayOutputStream(128)
    val buf = new Array[Byte](256)
    var n = in.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    new String(out.toByteArray, "UTF-8").trim
  }
}
