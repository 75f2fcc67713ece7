package graft.copy

import java.io.IOException
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import graft.SparkSpec

/** Ports the reference copy-dataflow suite
  * (reference/service/HdfsCopyServiceTest.java:52-236) against local
  * filesystems (file://): byte fidelity, nested trees, checksum on/off,
  * forced mismatch, missing source, empty dir.
  */
class CopyEngineSpec extends SparkSpec {

  private val conf = new Configuration()
  private def engine = new CopyEngine(spark)

  private def write(dir: JPath, name: String, content: Array[Byte]): JPath = {
    val p = dir.resolve(name)
    Files.createDirectories(p.getParent)
    Files.write(p, content)
    p
  }
  private def bytes(n: Int): Array[Byte] = Array.tabulate(n)(i => (i * 7 % 251).toByte)

  test("missing source fails with the reference's message") {
    val src = tmpDir("src").resolve("nope.bin")
    val dst = tmpDir("dst").resolve("out.bin")
    val e = intercept[IOException] {
      engine.copyPath(conf, src.toString, dst.toString, None)
    }
    e.getMessage shouldBe s"Source path does not exist: $src"
  }

  test("single file copies byte-identically with checksum verified") {
    val srcDir = tmpDir("src"); val dstDir = tmpDir("dst")
    val payload = bytes(200000)
    val src = write(srcDir, "data.bin", payload)
    val dst = dstDir.resolve("sub/data.bin")
    val r = engine.copyPath(conf, src.toString, dst.toString, None)
    r.bytesCopied shouldBe payload.length
    r.checksumVerified shouldBe true
    Files.readAllBytes(dst) shouldBe payload
  }

  test("throttled copy still byte-identical and takes visible time") {
    val srcDir = tmpDir("src"); val dstDir = tmpDir("dst")
    // 3 MiB at 1 MB/s → ≥ ~2s
    val payload = bytes(3 * 1024 * 1024)
    val src = write(srcDir, "big.bin", payload)
    val dst = dstDir.resolve("big.bin")
    val t0 = System.nanoTime()
    val r = engine.copyPath(conf, src.toString, dst.toString, Some(1))
    val ms = (System.nanoTime() - t0) / 1000000
    r.bytesCopied shouldBe payload.length
    Files.readAllBytes(dst) shouldBe payload
    ms should be > 1500L
  }

  test("cluster-global cap: parallel directory copy bounded in AGGREGATE, not per stream") {
    // 8 files × 1 MiB fan out across executor slots; a global 4 MB/s cap
    // must make the ITEM take ≥ ~1.5 s even though each stream alone
    // would finish instantly — the semantic the per-stream limiter can't
    // give (8 streams at 4 MB/s each would aggregate 32 MB/s).
    GlobalThrottle.reset("copy-global")
    val srcDir = tmpDir("src"); val dstDir = tmpDir("dst")
    (1 to 8).foreach(i => write(srcDir, s"f$i.bin", bytes(1024 * 1024)))
    val gconf = new Configuration()
    gconf.setInt(CopyEngine.GlobalMbpsKey, 4)
    val t0 = System.nanoTime()
    val r = engine.copyPath(gconf, srcDir.toString, dstDir.resolve("out").toString, None)
    val sec = (System.nanoTime() - t0) / 1e9
    r.bytesCopied shouldBe 8L * 1024 * 1024
    r.checksumVerified shouldBe true
    // 8 MiB at 4 MB/s ⇒ ideal ~2.1 s; burst (1 s of budget) + charge-
    // after overshoot admit the first chunk free, so require ≥ 1.2 s —
    // far above the unthrottled run (< 0.3 s) and ~6× above what a
    // per-stream-only cap would allow this fan-out to take
    sec should be > 1.2
    GlobalThrottle.reset("copy-global")
  }

  test("directory copy mirrors nested structure") {
    val srcDir = tmpDir("src"); val dstDir = tmpDir("dst")
    val a = bytes(1000); val b = bytes(2000); val c = bytes(50)
    write(srcDir, "root/a.bin", a)
    write(srcDir, "root/sub1/b.bin", b)
    write(srcDir, "root/sub1/sub2/c.bin", c)
    Files.createDirectories(srcDir.resolve("root/emptydir"))
    val dst = dstDir.resolve("mirror")
    val r = engine.copyPath(conf, srcDir.resolve("root").toString, dst.toString, None)
    r.bytesCopied shouldBe (a.length + b.length + c.length)
    r.checksumVerified shouldBe true
    Files.readAllBytes(dst.resolve("a.bin")) shouldBe a
    Files.readAllBytes(dst.resolve("sub1/b.bin")) shouldBe b
    Files.readAllBytes(dst.resolve("sub1/sub2/c.bin")) shouldBe c
    Files.isDirectory(dst.resolve("emptydir")) shouldBe true
  }

  test("distributed listing path: identical listing and identical copy for wide trees") {
    val srcDir = tmpDir("src"); val dstDir = tmpDir("dst")
    // 4 top-level subtrees with nesting + a top-level file + an empty dir
    val payloads = (for {
      s <- 1 to 4; f <- 1 to 3
    } yield s"sub$s/nest/f$f.bin" -> bytes(100 * s + f)).toMap
    payloads.foreach { case (relp, data) => write(srcDir, s"root/$relp", data) }
    val topFile = bytes(77)
    write(srcDir, "root/top.bin", topFile)
    Files.createDirectories(srcDir.resolve("root/sub1/emptydir"))

    val root = new org.apache.hadoop.fs.Path(srcDir.resolve("root").toString)
    val fs = root.getFileSystem(conf)
    val driverList = engine.listRecursive(fs, root).toSet
    // threshold 2 forces the Spark-job listing over the 4 subtrees
    val wide = new CopyEngine(spark, distributedListingMinSubtrees = 2)
    val distList = wide.listItem(conf, fs, root).toSet
    distList shouldBe driverList

    val dst = dstDir.resolve("mirror")
    val r = wide.copyPath(conf, srcDir.resolve("root").toString, dst.toString, None)
    r.bytesCopied shouldBe (payloads.values.map(_.length).sum + topFile.length)
    r.checksumVerified shouldBe true
    payloads.foreach { case (relp, data) =>
      Files.readAllBytes(dst.resolve(relp)) shouldBe data
    }
    Files.readAllBytes(dst.resolve("top.bin")) shouldBe topFile
    Files.isDirectory(dst.resolve("sub1/emptydir")) shouldBe true
  }

  test("empty directory copies zero bytes and is NOT verified") {
    val srcDir = tmpDir("src"); val dstDir = tmpDir("dst")
    Files.createDirectories(srcDir.resolve("empty"))
    val r = engine.copyPath(conf, srcDir.resolve("empty").toString,
      dstDir.resolve("empty").toString, None)
    r.bytesCopied shouldBe 0L
    r.checksumVerified shouldBe false
  }

  test("checksum disabled → copies fine, verified=false") {
    val srcDir = tmpDir("src"); val dstDir = tmpDir("dst")
    val payload = bytes(5000)
    val src = write(srcDir, "d.bin", payload)
    val dst = dstDir.resolve("d.bin")
    val e = new CopyEngine(spark, checksumEnabled = false)
    val r = e.copyPath(conf, src.toString, dst.toString, None)
    r.bytesCopied shouldBe payload.length
    r.checksumVerified shouldBe false
    Files.readAllBytes(dst) shouldBe payload
  }

  test("forced checksum mismatch fails with the reference's message and leaves the bad file") {
    val srcDir = tmpDir("src"); val dstDir = tmpDir("dst")
    val payload = bytes(1000)
    val src = write(srcDir, "t.bin", payload)
    val dst = dstDir.resolve("t.bin")
    val tampering = new CopyEngine(spark, checksumEnabled = true,
      postWriteHook = Some(p => {
        val f = new java.io.File(new java.net.URI(
          if (p.startsWith("file:")) p else s"file://$p").getPath)
        val out = new java.io.FileOutputStream(f, true)
        out.write(0x42); out.close()
      }))
    val e = intercept[IOException] {
      tampering.copyPath(conf, src.toString, dst.toString, None)
    }
    e.getMessage should startWith(s"Checksum mismatch for $dst: source=")
    e.getMessage should include(", local=")
    // bad file deliberately left in place (reference parity)
    Files.size(dst) shouldBe payload.length + 1
  }

  test("relative source directory mirrors correctly (qualified listing)") {
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    val srcRel = java.nio.file.Files.createTempDirectory(cwd, "relsrc")
    try {
      val payload = bytes(500)
      write(srcRel, "sub/x.bin", payload)
      val rel = cwd.relativize(srcRel).toString
      val dst = tmpDir("dst").resolve("mirror")
      val r = engine.copyPath(conf, rel, dst.toString, None)
      r.bytesCopied shouldBe payload.length
      Files.readAllBytes(dst.resolve("sub/x.bin")) shouldBe payload
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(srcRel).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("directory with one bad file fails the whole item") {
    // an appended byte, and a same-length flip of the first byte (which
    // no length check would catch)
    val corruptions: Seq[java.io.RandomAccessFile => Unit] = Seq(
      f => { f.seek(f.length()); f.write(0x42) },
      f => { val b = f.read(); f.seek(0); f.write(b ^ 0xff) })
    corruptions.foreach { corrupt =>
      val srcDir = tmpDir("src"); val dstDir = tmpDir("dst")
      write(srcDir, "root/ok.bin", bytes(100))
      write(srcDir, "root/bad.bin", bytes(100))
      val tampering = new CopyEngine(spark, checksumEnabled = true,
        postWriteHook = Some(p => {
          if (p.endsWith("bad.bin")) {
            val f = new java.io.RandomAccessFile(new java.net.URI(
              if (p.startsWith("file:")) p else s"file://$p").getPath, "rw")
            try corrupt(f) finally f.close()
          }
        }))
      val e = intercept[IOException] {
        tampering.copyPath(conf, srcDir.resolve("root").toString,
          dstDir.resolve("root").toString, None)
      }
      e.getMessage should include("Checksum mismatch for")
      e.getMessage should include("bad.bin: source=")
    }
  }

  test("strictItemParity: sequential copy aborts at the first bad file, later files stay uncopied") {
    val srcDir = tmpDir("src"); val dstDir = tmpDir("dst")
    // listing order is lexicographic on this FS: a.bin, b_bad.bin, c.bin
    write(srcDir, "root/a.bin", bytes(1000))
    write(srcDir, "root/b_bad.bin", bytes(1000))
    write(srcDir, "root/c.bin", bytes(1000))
    val corruptBad: String => Unit = p => {
      if (p.endsWith("b_bad.bin")) {
        val f = new java.io.File(new java.net.URI(
          if (p.startsWith("file:")) p else s"file://$p").getPath)
        val out = new java.io.FileOutputStream(f, true)
        out.write(0x42); out.close()
      }
    }
    val strict = new CopyEngine(spark, strictItemParity = true,
      postWriteHook = Some(corruptBad))
    val e = intercept[IOException] {
      strict.copyPath(conf, srcDir.resolve("root").toString,
        dstDir.resolve("root").toString, None)
    }
    e.getMessage should include("Checksum mismatch for")
    // reference side effects exactly: every file BEFORE the bad one (in
    // the engine's listing order — the local FS does not promise
    // lexicographic) copied, the bad one left corrupt in place, every
    // file AFTER it never copied (HdfsCopyService.java throws out of the
    // loop)
    val root = new org.apache.hadoop.fs.Path(srcDir.resolve("root").toString)
    val order = strict
      .listRecursive(root.getFileSystem(conf), root)
      .filterNot(_.isDir).map(_.relPath)
    val badIdx = order.indexWhere(_.endsWith("b_bad.bin"))
    badIdx should be >= 0
    order.zipWithIndex.foreach { case (rel, i) =>
      val exists = Files.exists(dstDir.resolve("root").resolve(rel))
      withClue(s"$rel (pos $i, bad at $badIdx): ") {
        exists shouldBe (i <= badIdx)
      }
    }
    // and the non-strict engine on the same tree reports the same error
    // but copies everything (documented divergence)
    val fanout = new CopyEngine(spark, postWriteHook = Some(corruptBad))
    val dst2 = tmpDir("dst2")
    intercept[IOException] {
      fanout.copyPath(conf, srcDir.resolve("root").toString,
        dst2.resolve("root").toString, None)
    }
    order.foreach { rel =>
      Files.exists(dst2.resolve("root").resolve(rel)) shouldBe true
    }
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0xfff

  test("copied files and skeleton directories carry Hadoop's umasked default bits") {
    val srcDir = tmpDir("src"); val dstDir = tmpDir("dst")
    write(srcDir, "root/a.bin", bytes(10))
    write(srcDir, "root/sub/b.bin", bytes(20))
    Files.createDirectories(srcDir.resolve("root/sub/empty"))
    Files.createDirectories(srcDir.resolve("root/empty"))
    val dst = dstDir.resolve("mirror")
    engine.copyPath(conf, srcDir.resolve("root").toString, dst.toString, None)
      .checksumVerified shouldBe true
    val umask = FsPermission.getUMask(conf)
    val fileBits = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirBits = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    Seq("a.bin", "sub/b.bin").foreach { f =>
      withClue(f) { mode(dst.resolve(f)) shouldBe fileBits }
    }
    Seq("", "sub", "sub/empty", "empty").foreach { d =>
      withClue(s"dir '$d'") { mode(dst.resolve(d)) shouldBe dirBits }
    }
    // a single-file copy's created parent directory too
    val single = dstDir.resolve("one/two/a.bin")
    engine.copyPath(conf, srcDir.resolve("root/a.bin").toString, single.toString, None)
    mode(single) shouldBe fileBits
    mode(single.getParent) shouldBe dirBits
  }

  test("local destinations go through PosixLocalFileSystem, which applies its conf's umask") {
    val local = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    CopyEngine.raw(local) shouldBe a[PosixLocalFileSystem]
    CopyEngine.raw(local.getRawFileSystem) shouldBe a[PosixLocalFileSystem]
    // 027 differs from the process umask, so the bits below can only come
    // from setPermission, not from the OS defaults of open/mkdir
    val c = new Configuration()
    c.set(FsPermission.UMASK_LABEL, "027")
    val fs = new PosixLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), c)
    val dir = tmpDir("posix")
    val f = new org.apache.hadoop.fs.Path(dir.resolve("d/e/f.bin").toString)
    fs.create(f, true).close()
    mode(dir.resolve("d/e/f.bin")) shouldBe Integer.parseInt("640", 8)
    mode(dir.resolve("d/e")) shouldBe Integer.parseInt("750", 8)
    mode(dir.resolve("d")) shouldBe Integer.parseInt("750", 8)
    fs.setPermission(f, new FsPermission(Integer.parseInt("604", 8).toShort))
    mode(dir.resolve("d/e/f.bin")) shouldBe Integer.parseInt("604", 8)
  }

  test("a sticky-bit permission falls back to RawLocalFileSystem.setPermission") {
    // NIO's PosixFilePermission has no sticky bit: the bit can only be
    // there if the inherited (chmod / NativeIO) path ran
    val dir = tmpDir("sticky").resolve("d")
    Files.createDirectories(dir)
    val fs = PosixLocalFileSystem.get(conf)
    fs.setPermission(new org.apache.hadoop.fs.Path(dir.toString),
      new FsPermission(Integer.parseInt("1750", 8).toShort))
    mode(dir) shouldBe Integer.parseInt("1750", 8)
  }
}
