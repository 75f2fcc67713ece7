package graft.copy

import java.io.IOException
import java.security.MessageDigest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** Distributed copy dataflow — the reference's core pipeline
  * (reference/service/HdfsCopyService.java:29-151: exists-check → file/dir
  * dispatch → recursive traversal → 64 KiB stream copy with inline MD5 →
  * read-back verify → byte/verified fold) re-architected for Spark's
  * execution model:
  *
  *  - the directory tree becomes a `Dataset[FileMeta]` (the reference walks
  *    it with a driver-side Stack, HdfsCopyService.java:67-79 — that shape
  *    can't scale past one machine's I/O; a Dataset of file rows can);
  *  - each file copy is a Spark task (`mapPartitions` over the listing),
  *    so ONE item's directory fans out across all executor slots, where
  *    the reference caps at one thread per item;
  *  - source/dest are any Hadoop filesystems (`hdfs://`, `file:///`, ...);
  *    the reference's "local" destination is the `file:///` special case.
  *
  * Behavioral parity preserved (and spec-pinned):
  *  - missing source → IOException("Source path does not exist: <path>");
  *  - checksum mismatch → IOException("Checksum mismatch for <dest>:
  *    source=<hex>, local=<hex>"), bad dest file left in place;
  *  - checksum disabled → verified=false, no error;
  *  - empty directory → verified=false (allVerified && filesCopied > 0);
  *  - any file failure inside a directory fails the whole item;
  *  - throttle is per-stream MB/s × 2^20 (null ⇒ unthrottled).
  */
final class CopyEngine(
    spark: SparkSession,
    checksumEnabled: Boolean = true,
    // test seam: runs after the dest write, before read-back verification
    // (the reference forces mismatches with a mocked FileSystem; we corrupt
    // the written file instead — same observable behavior).
    postWriteHook: Option[String => Unit] = None,
    // at or above this many top-level subdirectories, the listing itself
    // fans out as a Spark job (one task per subtree); below it the driver
    // DFS is faster (no job-launch overhead)
    distributedListingMinSubtrees: Int = 32,
    // strict side-effect parity with the reference: files copy
    // SEQUENTIALLY in listing order and the item aborts at the FIRST
    // failed/mismatched file, leaving later files uncopied
    // (HdfsCopyService.java:96-105 iterates the listing and throws out of
    // the loop). Default off = distributed fan-out, which runs every file
    // task before surfacing the first error — faster, but extra files
    // land at the destination on partial failure.
    strictItemParity: Boolean = false) extends Serializable {

  import CopyEngine._

  /** Copy one item (file or directory). Throws IOException on any failure
    * (missing source, I/O error, checksum mismatch) — the caller records
    * the message verbatim as the item's errorMessage.
    */
  def copyPath(conf: Configuration, sourcePath: String, destPath: String,
      bandwidthMbPerSec: Option[Int]): CopyResult = {
    val src = new Path(sourcePath)
    val fs = src.getFileSystem(conf)
    if (!fs.exists(src))
      throw new IOException(s"Source path does not exist: $sourcePath")

    val status = fs.getFileStatus(src)
    if (status.isDirectory) copyDirectory(conf, fs, src, destPath, bandwidthMbPerSec)
    else copyFile(conf, src, destPath, bandwidthMbPerSec)
  }

  private def copyFile(conf: Configuration, src: Path, destPath: String,
      bw: Option[Int]): CopyResult = {
    val dst = new Path(destPath)
    val dstFs = raw(dst.getFileSystem(conf))
    val parent = dst.getParent
    if (parent != null && !dstFs.mkdirs(parent))
      throw new IOException(s"Failed to create parent directory: $parent")
    val r = copyOne(conf, src.toString, destPath, bw, checksumEnabled, postWriteHook)
    if (r.error != null) throw new IOException(r.error)
    CopyResult(r.bytes, r.verified)
  }

  private def copyDirectory(conf: Configuration, fs: FileSystem, src0: Path,
      destPath: String, bw: Option[Int]): CopyResult = {
    import spark.implicits._
    val dstFs = raw(new Path(destPath).getFileSystem(conf))
    // Qualify the root: listings come back fully qualified, so a relative
    // source path would never prefix-match and relPaths would silently
    // nest the dest under the source's absolute path.
    val src = fs.makeQualified(src0)

    // Recursive listing (files + dirs, relative paths). Listing rows are
    // tiny; even a 100 TB tree of 100 MB files is ~10^6 rows. Wide trees
    // (many top-level subtrees) list as a distributed Spark job so the
    // driver never serializes 10^8 listStatus calls; small trees keep the
    // driver DFS fast path. Downstream stages are identical either way.
    // Strict mode also forces the DRIVER DFS listing: the distributed
    // listing's collect interleaves subtrees in partition order, which
    // would reorder the sequential copy and change WHICH files exist
    // after a mid-copy abort — the exact side effect strict mode pins.
    val metas =
      if (strictItemParity) listRecursive(fs, src) else listItem(conf, fs, src)
    val (dirs, files) = metas.partition(_.isDir)

    // Mirror the directory skeleton (incl. empty dirs) before data flows.
    // mkdirs is true for a directory that already exists.
    val destRoot = new Path(destPath)
    if (!dstFs.mkdirs(destRoot))
      throw new IOException(s"Failed to create directory: $destPath")
    dirs.foreach { d =>
      val p = new Path(destRoot, d.relPath)
      if (!dstFs.mkdirs(p))
        throw new IOException(s"Failed to create directory: $p")
    }

    if (files.isEmpty) return CopyResult(0L, checksumVerified = false)

    if (strictItemParity) {
      // Reference semantics: one file at a time, abort on first error —
      // everything after the failing file stays uncopied.
      var bytes = 0L
      var allVerified = true
      files.foreach { fm =>
        val r = copyOne(conf, s"$src/${fm.relPath}",
          s"$destRoot/${fm.relPath}", bw, checksumEnabled, postWriteHook)
        if (r.error != null) throw new IOException(r.error)
        bytes += r.bytes
        allVerified &&= r.verified
      }
      return CopyResult(bytes, allVerified)
    }

    // Fan the per-file copies out as Spark tasks.
    val sconf = new SerializableConfiguration(conf)
    val srcRoot = src.toString
    val destRootStr = destRoot.toString
    val bwOpt = bw
    val checksum = checksumEnabled
    val hook = postWriteHook
    val parallelism = math.min(files.size,
      spark.sparkContext.defaultParallelism * 2)

    val results: Dataset[FileCopyResult] = spark
      .createDataset(files)
      .repartition(parallelism)
      .mapPartitions { it =>
        val c = sconf.value
        it.map { fm =>
          copyOne(c, s"$srcRoot/${fm.relPath}", s"$destRootStr/${fm.relPath}",
            bwOpt, checksum, hook)
        }
      }

    // O(#files) small rows back to the driver — payload bytes never move
    // through it.
    // Parity note: the reference copies files sequentially and aborts the
    // item at the FIRST failed/mismatched file, leaving later files
    // uncopied; here all file tasks run to completion before the first
    // error is thrown, so on-disk side effects diverge (extra files at the
    // destination) even though the reported item status matches. Callers
    // that need the reference's exact side effects construct the engine
    // with strictItemParity=true (sequential path above).
    val collected = results.collect()
    collected.find(_.error != null).foreach(r => throw new IOException(r.error))
    CopyResult(collected.map(_.bytes).sum,
      collected.forall(_.verified) && collected.nonEmpty)
  }

  /** Streaming DFS over listStatus — files AND directories with paths
    * relative to `root` (qualified first, so relative roots work).
    * Driver-side fast path for small trees.
    */
  def listRecursive(fs: FileSystem, root0: Path): Seq[FileMeta] = {
    val root = fs.makeQualified(root0)
    walk(fs, root, root.toUri.getPath)
  }

  /** Pick driver DFS vs distributed listing for one copy item. The
    * top-level listStatus is issued ONCE and seeds whichever path is
    * chosen — the common flat-directory case must not enumerate a 10⁶-
    * entry top level twice.
    */
  private[copy] def listItem(conf: Configuration, fs: FileSystem,
      src0: Path): Seq[FileMeta] = {
    val src = fs.makeQualified(src0)
    val rootUri = src.toUri.getPath
    def rel(p: Path): String =
      p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
    val top = fs.listStatus(src)
    val topMetas = top.map { st =>
      if (st.isDirectory) FileMeta(st.getPath.toString, rel(st.getPath), isDir = true, 0L)
      else FileMeta(st.getPath.toString, rel(st.getPath), isDir = false, st.getLen)
    }.toSeq
    val subtreeRoots = top.filter(_.isDirectory).map(_.getPath).toSeq
    val sub =
      if (subtreeRoots.size < distributedListingMinSubtrees)
        subtreeRoots.flatMap(p => CopyEngine.walk(fs, p, rootUri))
      else listDistributed(conf, subtreeRoots.map(_.toString), rootUri)
    topMetas ++ sub
  }

  /** Distributed listing for wide trees: each top-level SUBTREE walks in
    * its own Spark task. Per-task output is listing rows only — at 10^8
    * files that is what the driver would otherwise have produced serially
    * through one NameNode-client loop. Results are identical to the
    * driver DFS up to ordering (parents still precede their children
    * within every subtree, and mkdirs is recursive, so the dir-skeleton
    * pass is order-safe).
    */
  private def listDistributed(conf: Configuration, subtreeRoots: Seq[String],
      rootUri: String): Seq[FileMeta] = {
    import spark.implicits._
    val sconf = new SerializableConfiguration(conf)
    val par = math.min(subtreeRoots.size,
      math.max(1, spark.sparkContext.defaultParallelism * 2))
    spark.createDataset(subtreeRoots)
      .repartition(par)
      .mapPartitions { it =>
        val c = sconf.value
        it.flatMap { rootStr =>
          val p = new Path(rootStr)
          CopyEngine.walkIterator(p.getFileSystem(c), p, rootUri)
        }
      }
      .collect().toSeq // listing rows only — payload bytes never move
  }
}

object CopyEngine {
  private val BufferSize = 64 * 1024 // reference/service/HdfsCopyService.java:25

  /** Hadoop-conf key for the per-executor share of a cluster-global copy
    * bandwidth cap (MB/s); 0/absent = no global cap. See GlobalThrottle.
    */
  val GlobalMbpsKey = "graft.copy.global.mbps"

  /** DFS over listStatus starting at (but excluding) `start`, paths
    * relative to `rootUri` — the MAIN copy root's URI path, so subtree
    * walks compose into one listing. Runs on the driver (small trees) or
    * inside executor tasks (distributed listing); must not touch
    * SparkSession. Parents always precede their children in the output.
    */
  def walk(fs: FileSystem, start: Path, rootUri: String): Seq[FileMeta] =
    walkIterator(fs, start, rootUri).toVector

  /** `walk`, lazily: it holds one directory's listing at a time, so a
    * caller that only aggregates never keeps a record per file.
    */
  def walkIterator(fs: FileSystem, start: Path,
      rootUri: String): Iterator[FileMeta] =
    new Iterator[FileMeta] {
      private def rel(p: Path): String =
        p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      private val dirs = scala.collection.mutable.Stack(start)
      private var listing: Iterator[FileStatus] = Iterator.empty
      def hasNext: Boolean = {
        while (!listing.hasNext && dirs.nonEmpty)
          listing = fs.listStatus(dirs.pop()).iterator
        listing.hasNext
      }
      def next(): FileMeta = {
        if (!hasNext) throw new NoSuchElementException("walk exhausted")
        val st = listing.next()
        if (st.isDirectory) {
          dirs.push(st.getPath)
          FileMeta(st.getPath.toString, rel(st.getPath), isDir = true, 0L)
        } else {
          FileMeta(st.getPath.toString, rel(st.getPath), isDir = false,
            st.getLen)
        }
      }
    }

  /** Unwrap ChecksumFileSystem (e.g. LocalFileSystem's .crc sidecars): the
    * engine does its own end-to-end MD5, and the reference writes raw bytes
    * (java.io) — sidecar CRCs would both double the hashing work and fire
    * before our verify on tampered files. A plain RawLocalFileSystem is
    * swapped for PosixLocalFileSystem, which sets the permission of every
    * created file and directory without forking `chmod`. Every destination
    * call of the engine goes through here.
    */
  private[copy] def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => raw(c.getRawFileSystem)
    case r: RawLocalFileSystem if r.getClass == classOf[RawLocalFileSystem] =>
      PosixLocalFileSystem.get(r.getConf)
    case f => f
  }

  /** Copy one file src→dst with optional throttle + MD5 verify. Runs on
    * executors; must not touch SparkSession. Never throws — errors travel
    * back as `FileCopyResult.error` rows.
    */
  def copyOne(conf: Configuration, srcPath: String, dstPath: String,
      bwMbPerSec: Option[Int], checksumEnabled: Boolean,
      postWriteHook: Option[String => Unit]): FileCopyResult = {
    try {
      val src = new Path(srcPath)
      val dst = new Path(dstPath)
      val srcFs = raw(src.getFileSystem(conf))
      val dstFs = raw(dst.getFileSystem(conf))

      val digest = if (checksumEnabled) MessageDigest.getInstance("MD5") else null
      var total = 0L
      val rawIn = srcFs.open(src)
      val perStream = bwMbPerSec match {
        case Some(bw) => new ThrottledInputStream(rawIn, bw.toLong * 1024 * 1024)
        case None => rawIn
      }
      // Cluster-global cap (GlobalThrottle): `graft.copy.global.mbps` in
      // the Hadoop conf (serialized to every task) is this EXECUTOR's
      // budget share — the submitter divides the cluster cap by executor
      // count; in local mode the share IS the global cap. All tasks in
      // this JVM rendezvous on one bucket, so their aggregate stays
      // ≤ share·(1+ε) however many copy in parallel — the semantic the
      // per-stream limiter can't give (N streams = N× cap). Composes
      // with the per-stream cap: both limits hold.
      val in = conf.getInt(GlobalMbpsKey, 0) match {
        case mbps if mbps > 0 =>
          new GloballyThrottledInputStream(perStream,
            GlobalThrottle.bucket("copy-global", mbps.toLong * 1024 * 1024))
        case _ => perStream
      }
      try {
        val out = dstFs.create(dst, true)
        try {
          val buf = new Array[Byte](BufferSize)
          var n = in.read(buf)
          while (n != -1) {
            out.write(buf, 0, n)
            if (digest != null) digest.update(buf, 0, n)
            total += n
            n = in.read(buf)
          }
        } finally out.close()
      } finally in.close()

      postWriteHook.foreach(_(dstPath))

      if (checksumEnabled) {
        val sourceHash = digest.digest()
        val localHash = md5Of(dstFs, dst)
        if (!MessageDigest.isEqual(sourceHash, localHash))
          // mismatch leaves the bad dest file in place — reference parity
          return FileCopyResult(dstPath, total, verified = false,
            s"Checksum mismatch for $dstPath: source=${hex(sourceHash)}, local=${hex(localHash)}")
        FileCopyResult(dstPath, total, verified = true, null)
      } else FileCopyResult(dstPath, total, verified = false, null)
    } catch {
      case e: Exception =>
        FileCopyResult(dstPath, 0L, verified = false,
          if (e.getMessage != null) e.getMessage else e.toString)
    }
  }

  def md5Of(fs: FileSystem, p: Path): Array[Byte] = {
    val md = MessageDigest.getInstance("MD5")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](BufferSize)
      var n = in.read(buf)
      while (n != -1) {
        md.update(buf, 0, n)
        n = in.read(buf)
      }
    } finally in.close()
    md.digest()
  }

  def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString
}
