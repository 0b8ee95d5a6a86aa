package graft.sinks

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The object writer's puts run with the session's Hadoop conf. */
class ObjectStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a Hadoop setting made only on the session reaches the object writer") {
    // the `probefs` scheme exists only in this session's runtime conf: a
    // writer that builds a default Configuration cannot resolve it
    val session = spark.newSession()
    session.conf.set("fs.probefs.impl", classOf[ProbeFs].getName)
    import session.implicits._
    val dir = Files.createTempDirectory("graft-object-store")
    val keys = (1 to 4).map(i => s"incoming/2024/03/05/corr-$i/doc$i.pdf")
    val objs = keys.map(k => (k, k.getBytes("UTF-8")))
      .toDF("s3IncomingKey", "body").repartition(2)
    ObjectStore.writeIncoming(objs, s"probefs://$dir")
    keys.foreach { k =>
      assert(ProbeFs.created.contains(s"$dir/$k"))
      assert(new String(Files.readAllBytes(Paths.get(s"$dir/$k")), "UTF-8") == k)
    }
  }
}

/** A local file system under the `probefs` scheme that records every file
  * it creates.
  */
final class ProbeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("probefs:///")
  override def getScheme: String = "probefs"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    ProbeFs.created.add(f.toUri.getPath)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object ProbeFs {
  val created = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
