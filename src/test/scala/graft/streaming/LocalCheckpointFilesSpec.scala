package graft.streaming

import graft.SparkSpec
import graft.engine.{Dsl, Pipelines}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** The engine's checkpoint file manager writes what Spark's default
  * manager writes on a local path, so a checkpoint moves between the two
  * in either direction; and the engine installs it on the sessions it
  * starts streams on, unless a session names its own manager. */
class LocalCheckpointFilesSpec extends SparkSpec {

  private val conf = new Configuration()
  /** Three checksum chunks, the last one partial. */
  private val payload = Array.tabulate[Byte](1300)(i => (i * 31 + 7).toByte)

  private def tempDir(): NioPath = Files.createTempDirectory("graft-ckpt-files-")
  private def hadoop(p: NioPath) = new Path(p.toUri)
  private def sparkDefault(p: NioPath): CheckpointFileManager =
    new FileContextBasedCheckpointFileManager(hadoop(p), conf)
  private def engine(p: NioPath): CheckpointFileManager =
    new LocalCheckpointFiles(hadoop(p), conf)

  private def write(fm: CheckpointFileManager, p: NioPath, bytes: Array[Byte],
                    overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(hadoop(p), overwrite)
    out.write(bytes)
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: NioPath): Array[Byte] = {
    val in = fm.open(hadoop(p))
    try in.readAllBytes() finally in.close()
  }
  private def sidecar(p: NioPath) = p.resolveSibling(s".${p.getFileName}.crc")
  private def mode(p: NioPath) =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def entries(d: NioPath): Seq[String] = {
    val s = Files.list(d)
    try s.iterator.asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  test("sidecars, modes and listings equal Spark's default manager's; files read back across managers") {
    val root = tempDir()
    try {
      // the same tree through each manager: a new parent and a new leaf
      val (a, b) = (root.resolve("default/p/leaf"), root.resolve("engine/p/leaf"))
      sparkDefault(a).mkdirs(hadoop(a))
      engine(b).mkdirs(hadoop(b))
      Seq(("x", payload), ("empty", Array.empty[Byte])).foreach { case (name, bytes) =>
        write(sparkDefault(a), a.resolve(name), bytes)
        write(engine(b), b.resolve(name), bytes)
        assert(Files.readAllBytes(sidecar(b.resolve(name))) sameElements
          Files.readAllBytes(sidecar(a.resolve(name))), s"$name sidecar")
        assert(read(engine(a), a.resolve(name)) sameElements bytes)
        assert(read(sparkDefault(b), b.resolve(name)) sameElements bytes)
        assert(mode(b.resolve(name)) == mode(a.resolve(name)))
        assert(mode(sidecar(b.resolve(name))) == mode(sidecar(a.resolve(name))))
      }
      assert(mode(b) == mode(a) && mode(b.getParent) == mode(a.getParent))
      // the same files on disk, sidecars hidden from list
      assert(entries(b) == entries(a))
      def listed(fm: CheckpointFileManager, d: NioPath) =
        fm.list(hadoop(d)).map(_.getPath.getName).toSeq.sorted
      assert(listed(engine(a), a) == Seq("empty", "x"))
      assert(listed(engine(b), b) == listed(sparkDefault(b), b))
    } finally graft.util.FsUtil.deleteRecursively(root)
  }

  test("a no-overwrite publish over an existing file throws and changes nothing") {
    val d = tempDir()
    try {
      val f = d.resolve("0")
      write(engine(d), f, payload)
      val (data, sums, before) =
        (Files.readAllBytes(f), Files.readAllBytes(sidecar(f)), entries(d))
      intercept[FileAlreadyExistsException](write(engine(d), f, Array[Byte](1, 2, 3)))
      assert(Files.readAllBytes(f) sameElements data)
      assert(Files.readAllBytes(sidecar(f)) sameElements sums)
      assert(entries(d) == before, "no temp file or sidecar is left")
      // with overwrite the file and its sidecar are replaced together
      write(engine(d), f, Array[Byte](1, 2, 3), overwrite = true)
      assert(read(sparkDefault(d), f) sameElements Array[Byte](1, 2, 3))
      assert(entries(d) == before)
    } finally graft.util.FsUtil.deleteRecursively(d)
  }

  test("cancel leaves the directory as it was") {
    val d = tempDir()
    try {
      write(engine(d), d.resolve("0"), payload)
      val before = entries(d)
      val out = engine(d).createAtomic(hadoop(d.resolve("1")), false)
      out.write(payload)
      out.cancel()
      assert(entries(d) == before)
    } finally graft.util.FsUtil.deleteRecursively(d)
  }

  // Spark's default manager only logs this checksum error and returns
  // the corrupt bytes
  test("a flipped byte fails the checksum on read") {
    val d = tempDir()
    try {
      val f = d.resolve("0")
      write(engine(d), f, payload)
      val bytes = Files.readAllBytes(f)
      bytes(700) = (bytes(700) ^ 1).toByte
      Files.write(f, bytes)
      intercept[ChecksumException](read(engine(d), f))
      assert(Files.exists(f), "a corrupt file stays where it is")
    } finally graft.util.FsUtil.deleteRecursively(d)
  }

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  private def pipeline = Dsl.parsePipeline("p",
    """{"metadata": {"input": [{"name": "v", "type": "double"}],
      |              "output": [{"name": "v", "type": "double"}]},
      | "stages": [{"ref": "#filter", "settings": {"type": "non-zero"},
      |             "input": {"value": "=$.v"}}]}""".stripMargin)

  private def rateStream(s: SparkSession) =
    s.readStream.format("rate").load()
      .select(col("value").cast("double").as("v"), col("value").as("__seq"))

  test("compileStream and a new ingress stream install the engine's manager") {
    val s1 = spark.newSession()
    assert(s1.conf.getOption(Key).isEmpty)
    Pipelines.compileStream(pipeline, rateStream(s1))
    assert(s1.conf.get(Key) == classOf[LocalCheckpointFiles].getName)
    val s2 = spark.newSession()
    new IngressStream()(s2)
    assert(s2.conf.get(Key) == classOf[LocalCheckpointFiles].getName)
  }

  test("a session that names another manager keeps it") {
    val other = classOf[FileContextBasedCheckpointFileManager].getName
    val s = spark.newSession()
    s.conf.set(Key, other)
    Pipelines.compileStream(pipeline, rateStream(s))
    new IngressStream()(s)
    assert(s.conf.get(Key) == other)
  }
}
