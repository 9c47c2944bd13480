package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, FileNotFoundException, OutputStream}
import java.nio.file.{Files, StandardCopyOption, FileAlreadyExistsException => NioFileExists, Path => NioPath}
import java.nio.file.attribute.{BasicFileAttributes, PosixFilePermissions}
import java.util.UUID
import java.util.zip.CRC32
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Structured Streaming's checkpoint file manager for the engine's
  * queries: the offset log, the commit log and every state-store delta
  * and snapshot go through it.
  *
  * Without libhadoop, Hadoop's local file system sets a file's mode by
  * forking a `chmod` process, and Spark's default manager forks several
  * times per file it writes: about 35-40 ms per checkpoint file on a
  * 4-core VM, on tmpfs as on ext4, against 0.06 ms for the same write
  * through java.nio. A micro-batch writes one offset file, one commit
  * file and one delta per state partition, so those forks were most of
  * a small batch's commit time.
  *
  * `file:` paths are written here with java.nio and no forked process;
  * every other scheme goes to Spark's default manager. The local files
  * are what Hadoop's local file system writes: a temp file in the
  * target's directory published by rename (`link(2)`, which never
  * replaces, when overwriting is not allowed), a `.<name>.crc` sidecar
  * byte for byte as Hadoop writes it, and file and directory modes from
  * `fs.permissions.umask-mode`, set by syscall. Checkpoints written by
  * either manager read back through the other.
  */
final class LocalCheckpointFiles(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val impl: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") new LocalCheckpointFiles.Nio(path, conf)
    else try new FileContextBasedCheckpointFileManager(path, conf)
    catch {
      case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, conf)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path =
    impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFiles {

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make [[LocalCheckpointFiles]] the checkpoint file manager of
    * queries started on `spark` from now on, unless the session already
    * names one. Called wherever the engine builds or starts a stream. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(Key).isEmpty)
      spark.conf.set(Key, classOf[LocalCheckpointFiles].getName)

  private def sidecar(p: NioPath): NioPath =
    p.resolveSibling(s".${p.getFileName}.crc")

  private def isSidecar(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  private final class Nio(root: Path, conf: Configuration)
      extends CheckpointFileManager {

    /** Reads verify a sidecar when one is present. A failed check
      * throws ChecksumException and leaves the file in place: plain
      * LocalFileSystem would move it to a `bad_files` directory at the
      * top of the device, and Spark's default manager only logs the
      * error and returns the bytes. */
    private val fs: LocalFileSystem = {
      val f = new LocalFileSystem {
        override def reportChecksumFailure(p: Path, in: FSDataInputStream,
            inPos: Long, sums: FSDataInputStream, sumsPos: Long) = false
      }
      f.initialize(java.net.URI.create("file:///"), conf)
      f
    }
    private val bytesPerSum = conf.getInt("file.bytes-per-checksum", 512)
    private val umask = FsPermission.getUMask(conf)
    private def mode(p: FsPermission) = {
      val m = p.applyUMask(umask)
      PosixFilePermissions.fromString(
        m.getUserAction.SYMBOL + m.getGroupAction.SYMBOL + m.getOtherAction.SYMBOL)
    }
    private val fileMode = mode(FsPermission.getFileDefault)
    private val dirMode = mode(FsPermission.getDirDefault)

    private def local(p: Path): NioPath = fs.pathToFile(p).toPath

    /** Write to a temp file next to `p`, computing its checksums on the
      * way. close() writes the temp's sidecar and publishes both as `p`;
      * cancel(), or a failed close(), removes them. */
    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream = {
      val dst = local(p)
      val tid = Option(TaskContext.get).fold("")(tc => s".TID${tc.taskAttemptId}")
      val temp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}$tid.tmp")
      val body = new Checksummed(temp)
      def discard(): Unit = {
        Files.deleteIfExists(temp); Files.deleteIfExists(sidecar(temp))
      }
      new CancellableFSDataOutputStream(body) {
        private var terminated = false
        override def close(): Unit = synchronized {
          if (!terminated) {
            terminated = true
            try { super.close(); publish(temp, dst, overwriteIfPossible) }
            catch { case NonFatal(e) => discard(); throw e }
          }
        }
        override def cancel(): Unit = synchronized {
          if (!terminated) { terminated = true; body.abort(); discard() }
        }
      }
    }

    /** Publish `temp` and its sidecar as `dst`. Without `overwrite` a
      * hard link publishes the data, so an existing `dst` is never
      * replaced and Hadoop's FileAlreadyExistsException is thrown. */
    private def publish(temp: NioPath, dst: NioPath, overwrite: Boolean): Unit = {
      if (overwrite) {
        // never pair the new data with the old checksums
        Files.deleteIfExists(sidecar(dst))
        Files.move(temp, dst, StandardCopyOption.ATOMIC_MOVE)
      } else {
        try Files.createLink(dst, temp)
        catch {
          case _: NioFileExists =>
            throw new FileAlreadyExistsException(s"Rename destination $dst already exists.")
        }
        Files.delete(temp)
      }
      Files.move(sidecar(temp), sidecar(dst), StandardCopyOption.ATOMIC_MOVE)
    }

    override def open(p: Path): FSDataInputStream = fs.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val dir = local(p)
      if (!Files.exists(dir)) throw new FileNotFoundException(s"$p does not exist")
      val q = fs.makeQualified(p)
      val names = Files.list(dir)
      try names.iterator.asScala.map(_.getFileName.toString)
        .filterNot(isSidecar).map(n => new Path(q, n)).filter(filter.accept)
        .map(c => status(dir.resolve(c.getName), c)).toArray
      finally names.close()
    }

    private def status(f: NioPath, p: Path): FileStatus = {
      val a = Files.readAttributes(f, classOf[BasicFileAttributes])
      new FileStatus(a.size, a.isDirectory, 1, fs.getDefaultBlockSize(p),
        a.lastModifiedTime.toMillis, p)
    }

    /** Missing parents get the process's default mode and the directory
      * itself the configured one, as Hadoop's local file system does. */
    override def mkdirs(p: Path): Unit = {
      val d = local(p)
      if (!Files.isDirectory(d)) {
        Option(d.getParent).foreach(Files.createDirectories(_))
        try {
          Files.createDirectory(d)
          Files.setPosixFilePermissions(d, dirMode)
        } catch { case _: NioFileExists if Files.isDirectory(d) => () }
      }
    }

    override def exists(p: Path): Boolean = Files.exists(local(p))

    /** A file goes with its sidecar, a directory with everything in it;
      * a missing path is not an error. */
    override def delete(p: Path): Unit = {
      val f = local(p)
      if (Files.isDirectory(f)) graft.util.FsUtil.deleteRecursively(f)
      else { Files.deleteIfExists(f); Files.deleteIfExists(sidecar(f)) }
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      val q = fs.makeQualified(root)
      mkdirs(q)
      q
    }

    /** Hadoop's checksum file: "crc\0", the bytes per checksum, then the
      * big-endian CRC32 of each chunk of that many bytes. */
    private final class Checksummed(file: NioPath) extends OutputStream {
      private val out = new BufferedOutputStream(Files.newOutputStream(file))
      Files.setPosixFilePermissions(file, fileMode)
      private val crc = new CRC32
      private var inChunk = 0
      private val sumBytes = new ByteArrayOutputStream
      private val sums = new DataOutputStream(sumBytes)
      sums.write(Array[Byte]('c', 'r', 'c', 0)); sums.writeInt(bytesPerSum)
      private var closed = false

      private def endChunk(): Unit = {
        sums.writeInt(crc.getValue.toInt); crc.reset(); inChunk = 0
      }

      override def write(b: Int): Unit = {
        out.write(b); crc.update(b); inChunk += 1
        if (inChunk == bytesPerSum) endChunk()
      }

      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len)
        var i = off
        while (i < off + len) {
          val n = math.min(bytesPerSum - inChunk, off + len - i)
          crc.update(b, i, n); inChunk += n; i += n
          if (inChunk == bytesPerSum) endChunk()
        }
      }

      override def flush(): Unit = out.flush()

      /** Close the file without writing its sidecar. */
      def abort(): Unit = if (!closed) { closed = true; out.close() }

      override def close(): Unit = if (!closed) {
        closed = true
        out.close()
        if (inChunk > 0) endChunk()
        val s = sidecar(file)
        Files.write(s, sumBytes.toByteArray)
        Files.setPosixFilePermissions(s, fileMode)
      }
    }
  }
}
