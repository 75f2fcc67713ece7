package graft.copy

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Per-namespace Hadoop configuration factory with memoization
  * (reference/service/HdfsFileSystemFactory.java:22-60 semantics):
  * `{confBasedir}/{namespace}/core-site.xml` + `hdfs-site.xml` layered on a
  * fresh Configuration, one cached Configuration per namespace.
  *
  * Differences from the reference, on purpose (Spark-first):
  *  - we do NOT disable Hadoop's FileSystem cache (the reference sets
  *    fs.hdfs.impl.disable.cache=true and opens/closes one FS per item;
  *    Spark executors reuse cached FS objects across tasks — closing them
  *    per-task would break concurrent tasks on the same executor);
  *  - Kerberos login (UserGroupInformation.loginUserFromKeytab) must happen
  *    once per JVM before the SparkSession starts, not per namespace —
  *    `kerberosPrincipal` only records the config keys so they ship to
  *    executors with the job conf. Untestable without a KDC (SURVEY §7.4);
  *    the config-key surface is what the spec pins.
  */
final class FsFactory(confBasedir: String, secure: Boolean = false) {

  private val cache = new ConcurrentHashMap[String, Configuration]()

  def configuration(namespace: String): Configuration =
    cache.computeIfAbsent(namespace, build(_))

  private def build(namespace: String): Configuration = {
    val conf = new Configuration()
    conf.addResource(new Path(s"$confBasedir/$namespace/core-site.xml"))
    conf.addResource(new Path(s"$confBasedir/$namespace/hdfs-site.xml"))
    if (secure) {
      conf.set("hadoop.security.authentication", "kerberos")
      sys.props.get("kerberos.principal")
        .foreach(conf.set("hadoop.kerberos.principal", _))
    }
    conf
  }
}
