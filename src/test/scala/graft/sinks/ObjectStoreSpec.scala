package graft.sinks

import java.net.URI
import java.nio.file.{Files, Path => NioPath, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{TempDirs, TestSpark}
import graft.enrich.{BreakerConfig, LocalDocling, RetryPolicy}
import graft.ops.Envelope
import graft.stream.{FilePipeline, PipelineConfig}

/** The [[ObjectStore.Bucket]] contract, run against both backends: a
  * `file:` directory (java.nio) and the `probefs` scheme, a Hadoop
  * FileSystem that exists only in one session's conf.
  */
class ObjectStoreSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  /** A session whose conf alone maps `probefs` to [[ProbeFs]]. */
  private lazy val probeSession: SparkSession = {
    val s = spark.newSession()
    s.conf.set("fs.probefs.impl", classOf[ProbeFs].getName)
    s
  }

  private val backends: Seq[(String, NioPath => ObjectStore.Bucket)] = Seq(
    "file" -> (d => ObjectStore.Bucket(spark, s"file://$d")),
    "probefs" -> (d => ObjectStore.Bucket(probeSession, s"probefs://$d")))

  /** Keys with a `/` inside the file name, a space, `%`, `:` and
    * non-ASCII characters.
    */
  private val oddKeys = Seq(
    "incoming/2024/03/05/corr-1/sub/dir/doc.pdf",
    "incoming/2024/03/05/corr 2/my doc.pdf",
    "incoming/2024/03/05/corr-3/100% done%41.pdf",
    "incoming/2024/03/05/urn:corr:4/a:b.pdf",
    "incoming/2024/03/05/corr-5/Übersicht-日本.pdf")

  private def onDisk(root: NioPath): Seq[String] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).toVector.sorted
    finally walk.close()
  }

  private def utf8(b: Array[Byte]) = new String(b, "UTF-8")

  for ((name, open) <- backends) {
    test(s"$name bucket: put/get round trip and overwrite") {
      val b = open(tempDir("graft-object-store"))
      b.put("incoming/2024/03/05/c/doc.pdf", "one".getBytes("UTF-8"))
      assert(utf8(b.get("incoming/2024/03/05/c/doc.pdf")) == "one")
      b.put("incoming/2024/03/05/c/doc.pdf", "two!".getBytes("UTF-8"))
      assert(utf8(b.get("incoming/2024/03/05/c/doc.pdf")) == "two!")
      assert(b.list("incoming") == Seq("incoming/2024/03/05/c/doc.pdf"))
    }

    test(s"$name bucket: a prefix never written lists as empty") {
      val dir = tempDir("graft-object-store")
      val b = open(dir)
      assert(b.list("failed").isEmpty)
      assert(open(dir.resolve("no-such-bucket")).list("incoming").isEmpty)
      b.put("incoming/2024/03/05/c/doc.pdf", Array[Byte](1))
      assert(b.list("failed/").isEmpty)
      assert(b.list("incoming/2024/03/06").isEmpty)
      assert(b.list("incoming/2024/03/05/") == b.list("incoming"))
    }

    test(s"$name bucket: keys with '/', space, '%', ':' and non-ASCII " +
         "round-trip and list as put") {
      val dir = tempDir("graft-object-store")
      val b = open(dir)
      oddKeys.foreach(k => b.put(k, k.getBytes("UTF-8")))
      assert(b.list("incoming") == oddKeys.sorted)
      oddKeys.foreach(k => assert(utf8(b.get(k)) == k))
      // the key is the object's path below the bucket, byte for byte
      assert(onDisk(dir) == oddKeys.sorted)
    }

    test(s"$name bucket: refuses keys with an empty, '.' or '..' segment") {
      val dir = tempDir("graft-object-store")
      val b = open(dir.resolve("bucket"))
      Seq("incoming/2024/03/05/c1/../../../../../../escaped.pdf",
          "incoming/./x.pdf", "incoming//x.pdf", "/etc/x", "incoming/x/",
          "..", "").foreach { k =>
        intercept[IllegalArgumentException](b.put(k, Array[Byte](1)))
        intercept[IllegalArgumentException](b.get(k))
      }
      intercept[IllegalArgumentException](b.list("incoming/../.."))
      assert(onDisk(dir).isEmpty)
    }
  }

  test("both backends store a key at the same on-disk path") {
    val (a, c) = (tempDir("graft-object-store"), tempDir("graft-object-store"))
    val (fileB, probeB) = (backends(0)._2(a), backends(1)._2(c))
    oddKeys.foreach { k =>
      fileB.put(k, Array[Byte](7)); probeB.put(k, Array[Byte](7))
    }
    assert(onDisk(a) == onDisk(c))
    // each backend reads what the other wrote
    oddKeys.foreach { k =>
      assert(backends(1)._2(a).get(k).toSeq == Seq[Byte](7))
      assert(backends(0)._2(c).get(k).toSeq == Seq[Byte](7))
    }
  }

  test("a Hadoop setting made only on the session reaches the object writer") {
    // the `probefs` scheme exists only in this session's runtime conf: a
    // writer that builds a default Configuration cannot resolve it
    val session = spark.newSession()
    session.conf.set("fs.probefs.impl", classOf[ProbeFs].getName)
    import session.implicits._
    val dir = tempDir("graft-object-store")
    val keys = (1 to 4).map(i => s"incoming/2024/03/05/corr-$i/doc$i.pdf")
    val objs = keys.map(k => (k, k.getBytes("UTF-8")))
      .toDF("key", "body").withColumn("report", lit(false)).repartition(2)
    ObjectStore.writeObjects(objs, ObjectStore.Bucket(session, s"probefs://$dir"))
    keys.foreach { k =>
      assert(ProbeFs.created.contains(s"$dir/$k"))
      assert(new String(Files.readAllBytes(Paths.get(s"$dir/$k")), "UTF-8") == k)
    }
  }

  test("reprocess opens exactly the bodies it re-emits") {
    val dir = tempDir("graft-object-store")
    val store = s"probefs://$dir"
    val ts = Timestamp.valueOf("2024-03-05 07:08:09")
    // 12 documents, 3 of which fail conversion, plus one invalid row
    val docs = (1 to 12).map { i =>
      val name = if (i % 4 == 0) s"bad-$i.pdf" else s"ok-$i.pdf"
      Row(name, "application/pdf", 10L, s"t$i", "ab" * 32, f"corr-$i%02d",
        s"body-$i".getBytes("UTF-8"), ts, 1)
    } :+ Row("nosum.pdf", "application/pdf", 10L, "t0", null, "corr-00",
      "x".getBytes("UTF-8"), ts, 1)
    val env = probeSession.createDataFrame(
      java.util.Arrays.asList(docs: _*), Envelope.envelopeSchema)
    FilePipeline.runBatch(env, store,
      new LocalDocling(failSubstring = Some("bad-")),
      PipelineConfig(retry = RetryPolicy(sleeper = _ => ()),
        breaker = BreakerConfig(requestVolumeThreshold = 1000),
        breakerName = java.util.UUID.randomUUID().toString))
    val bucket = ObjectStore.Bucket(probeSession, store)
    assert(bucket.list("incoming").size == 12)
    assert(bucket.list("failed").size == 4)
    ProbeFs.opened.removeIf(_.startsWith(s"$dir/"))
    val re = FilePipeline.reprocess(probeSession, store).collect()
    assert(re.map(_.getAs[String]("fileName")).sorted.toSeq ==
      Seq("bad-12.pdf", "bad-4.pdf", "bad-8.pdf"))
    re.foreach { r =>
      assert(utf8(r.getAs[Array[Byte]]("body")) ==
        s"body-${r.getAs[String]("fileName").stripPrefix("bad-").stripSuffix(".pdf")}")
    }
    val opened = ProbeFs.opened.asScala.toSeq.filter(_.startsWith(s"$dir/"))
      .map(_.stripPrefix(s"$dir/"))
    assert(opened.filter(_.startsWith("incoming/")).sorted ==
      Seq(12, 4, 8).map(i => f"incoming/2024/03/05/corr-$i%02d/bad-$i.pdf").sorted)
    // and each failure report once, to parse it
    assert(opened.count(_.startsWith("failed/")) == 4)
  }
}

/** A local file system under the `probefs` scheme that records every file
  * it creates and every file it opens.
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
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    ProbeFs.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
  // plain statuses: without the native library, RawLocalFileSystem reads
  // a listed file's permission with a forked `ls` on its `file:` URI,
  // which fails under this scheme (and is not what a listing asks for)
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(s => new FileStatus(s.getLen, s.isDirectory,
      1, s.getBlockSize, s.getModificationTime, s.getPath))
}

object ProbeFs {
  val created = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
