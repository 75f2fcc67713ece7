package graft.tools

import java.nio.file.{Files, Paths}
import graft.copy._

/** Copy-throughput benchmark, comparable to the reference's doc numbers
  * (single item, unthrottled: 67.18 MB/s and 61.73 MB/s —
  * reference/README.md:123-126,163-167). Generates source files locally,
  * copies via the engine, reports the reference's own speed formula
  * (bytes/2^20)/(ms/1000).
  *
  *   sbt "runMain graft.tools.CopyBench [totalMiB] [nFiles] [ranged=<MiB>]"
  *
  * ranged=<MiB> copies via RangedCopy (range-split single-file parallel
  * copy, nFiles must be 1) with the given range size — the measured
  * comparison against the single-stream path on the same bytes.
  */
object CopyBench {
  def main(args: Array[String]): Unit = {
    val totalMiB = args.headOption.map(_.toInt).getOrElse(1024)
    val nFiles = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val rangedMiB = args.collectFirst {
      case a if a.startsWith("ranged=") => a.stripPrefix("ranged=").toLong
    }
    require(rangedMiB.isEmpty || nFiles == 1, "ranged= needs nFiles=1")

    val spark = graft.GraftSession.create("graft-copy-bench", graft.GraftSession.cpus(32))

    val src = Files.createTempDirectory("cbsrc")
    val dst = Files.createTempDirectory("cbdst").resolve("out")
    val perFile = totalMiB.toLong * 1024 * 1024 / nFiles
    val buf = new Array[Byte](1024 * 1024)
    new java.util.Random(42).nextBytes(buf)
    (0 until nFiles).foreach { i =>
      val out = Files.newOutputStream(src.resolve(f"f$i%06d.bin"))
      var written = 0L
      while (written < perFile) {
        val n = math.min(buf.length.toLong, perFile - written).toInt
        out.write(buf, 0, n)
        written += n
      }
      out.close()
    }

    rangedMiB match {
      case Some(rMiB) =>
        val srcFile = src.resolve("f000000.bin").toString
        val t0 = System.currentTimeMillis()
        val r = RangedCopy.copyFile(spark, new org.apache.hadoop.conf.Configuration(),
          srcFile, dst.toString, rangeBytes = rMiB * 1024 * 1024)
        val wallMs = System.currentTimeMillis() - t0
        val speed = f"${r.bytesCopied / 1048576.0 / (wallMs / 1000.0)}%.2f MB/s"
        println(s"""{"status":"RANGED","bytes":${r.bytesCopied},""" +
          s""""rangeMiB":$rMiB,"wallMs":$wallMs,"speed":"$speed",""" +
          s""""checksumVerified":${r.checksumVerified}}""")
      case None =>
        val svc = new CopyTaskService(new CopyEngine(spark), new FsFactory("/tmp"))
        val t0 = System.currentTimeMillis()
        val Right(id) = svc.submit(CopyRequest("default",
          Seq(CopyItem(src.toString, dst.toString))))
        var task = svc.getTask(id).get
        while (task.status == CopyTaskStatus.IN_PROGRESS) {
          Thread.sleep(50); task = svc.getTask(id).get
        }
        val item = task.items.head
        val wallMs = System.currentTimeMillis() - t0
        println(s"""{"status":"${task.status}","bytes":${item.bytesCopied},""" +
          s""""nFiles":$nFiles,"durationMs":${item.durationMs},"wallMs":$wallMs,""" +
          s""""speed":"${item.speed}","checksumVerified":${item.checksumVerified}}""")
        svc.shutdown()
    }
    spark.stop()
  }
}
