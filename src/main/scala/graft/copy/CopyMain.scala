package graft.copy

/** CLI surface for the copy engine — the analog of the reference's REST
  * API (submit → 202 id → poll → final task state), as a runnable main:
  *
  *   sbt "runMain graft.copy.CopyMain <src> <dest> [bandwidthMbPerSec]"
  *   sbt "runMain graft.copy.CopyMain --request req.json"
  *
  * The --request form takes the reference's exact JSON body shape
  * ({"namespace", "items":[{"hdfsPath","localPath"}], "bandwidth"}) and
  * its exact error normalization: malformed JSON → {"error":"Invalid
  * request body"} (reference/controller/GlobalExceptionHandler.java:16-27),
  * validation messages from the service verbatim.
  */
object CopyMain {

  /** JSON string literal (quotes + escapes) for CLI output — paths and
    * error messages may contain quotes/backslashes.
    */
  private lazy val mapper =
    com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
  private def j(v: String): String = mapper.writeValueAsString(v)

  /** Parse the reference's request JSON. Throws on malformed input.
    * (Shared with the HTTP facade — see CopyJson.)
    */
  def parseRequest(json: String): CopyRequest = CopyJson.parseRequest(json)

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: CopyMain <src> <dest> [bandwidthMbPerSec] | --request <file.json>")
      sys.exit(2)
    }
    val request: Either[String, CopyRequest] =
      if (args(0) == "--request") {
        try Right(parseRequest(java.nio.file.Files.readString(
          java.nio.file.Paths.get(args(1)))))
        catch { case _: Exception => Left("Invalid request body") }
      } else {
        val bw = if (args.length > 2) args(2).toIntOption else None
        if (args.length > 2 && bw.isEmpty) {
          System.err.println("usage: CopyMain <src> <dest> [bandwidthMbPerSec] | --request <file.json>")
          sys.exit(2)
        }
        Right(CopyRequest("default", Seq(CopyItem(args(0), args(1))), bw))
      }
    request match {
      case Left(err) =>
        println(s"""{"error":"$err"}""")
        sys.exit(1)
      case Right(req) => run(req)
    }
  }

  private def run(req: CopyRequest): Unit = {
    val spark = graft.GraftSession.create("graft-copy", graft.GraftSession.cpus(4))

    val svc = new CopyTaskService(new CopyEngine(spark),
      new FsFactory(sys.env.getOrElse("GRAFT_CONF_BASEDIR", "/etc/hadoop-namespaces")))
    svc.submit(req) match {
      case Left(err) =>
        println(s"""{"error":"$err"}""")
        sys.exit(1)
      case Right(id) =>
        println(s"""{"requestId":"$id"}""")
        var task = svc.getTask(id).get
        while (task.status == CopyTaskStatus.IN_PROGRESS ||
               task.status == CopyTaskStatus.PENDING) {
          Thread.sleep(100)
          task = svc.getTask(id).get
        }
        task.items.foreach { i =>
          println(s"""{"source":${j(i.sourcePath)},"dest":${j(i.destPath)},"status":"${i.status}",""" +
            s""""bytesCopied":${i.bytesCopied},"durationMs":${i.durationMs},""" +
            s""""speed":"${i.speed}","checksumVerified":${i.checksumVerified}""" +
            (if (i.errorMessage != null) s""","error":${j(i.errorMessage)}""" else "") + "}")
        }
        println(s"""{"requestId":"$id","status":"${task.status}"}""")
        svc.shutdown()
        spark.stop()
        if (task.status != CopyTaskStatus.COMPLETED) sys.exit(1)
    }
  }
}
